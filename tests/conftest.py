import contextlib
import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streetview_naturevisibility_spark import cli
from streetview_naturevisibility_spark.session import get_spark
from streetview_naturevisibility_spark.fixtures.generate import write_fixtures


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="svnv-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def compiled(spark):
    """A callable: how many classes Janino has compiled in this JVM so
    far (Spark's ``CodegenMetrics`` records one compile-time sample per
    class; a codegen cache hit records none)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return lambda: metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture
def no_broadcast(spark):
    """A context manager: inside it ``spark.sql.autoBroadcastJoinThreshold``
    is ``-1``, so no frame ``fits`` the broadcast and driver-collect
    budget and every size-picked path takes its distributed branch.
    The setting is restored on exit."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    @contextlib.contextmanager
    def off():
        saved = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, saved)

    return off


_job_groups = itertools.count()


@pytest.fixture
def jobs_in(spark):
    """A callable: ``jobs_in(fn)`` runs ``fn()`` under a Spark job group
    of its own and returns its result and the number of jobs it ran."""
    sc = spark.sparkContext

    def run(fn):
        name = f"jobs-in-{next(_job_groups)}"
        sc.setJobGroup(name, name)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(name))

    return run


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixtures")
    write_fixtures(str(d), n_pages=500, n_roads=60)
    return str(d)


@pytest.fixture(scope="session")
def run_cli(spark):
    """Runs ``svnv-spark --master local[4] <argv>`` in-process through
    the real parser, exactly as ``spark-submit ... cli.py <argv>``
    would (non-string arguments are passed as ``str(arg)``)."""

    def run(*argv: object) -> None:
        saved = sys.argv
        sys.argv = ["svnv-spark", "--master", "local[4]", *map(str, argv)]
        try:
            cli.main()
        finally:
            sys.argv = saved

    return run


@pytest.fixture(scope="session")
def run_cli_pipeline(run_cli, fixture_dir):
    """``cli pipeline`` over the fixture tables; returns ``out``."""

    def run(out: str, *extra: str) -> str:
        run_cli(
            "pipeline",
            "--roads", os.path.join(fixture_dir, "roads.parquet"),
            "--pages", os.path.join(fixture_dir, "web_pages.parquet"),
            "--out", out, *extra,
        )
        return out

    return run


@pytest.fixture(scope="session")
def pipeline_out(run_cli_pipeline, tmp_path_factory):
    return run_cli_pipeline(str(tmp_path_factory.mktemp("pipeline_out")))


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.01"
