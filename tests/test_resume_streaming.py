"""Checkpoint/lineage/resume tests."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from streetview_naturevisibility_spark.operators.resume import (
    parquet_rows,
    read_lineage,
    read_parquet,
    read_stage,
    run_stage,
)

PIPELINE_STAGES = ("sample_points", "pages_prepared", "snapped", "gvi_points")


class TestResume:
    def test_run_stage_computes_once(self, spark, tmp_path):
        root = str(tmp_path / "ckpt")
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))

        a = run_stage(spark, root, "stage_a", build)
        assert a.count() == 100
        assert calls["n"] == 1
        # second run: restored from checkpoint, no recompute
        b = run_stage(spark, root, "stage_a", build)
        assert b.count() == 100
        assert calls["n"] == 1

    def test_lineage_records(self, spark, tmp_path):
        root = str(tmp_path / "ckpt2")
        run_stage(spark, root, "s", lambda: spark.range(1000).repartition(4))
        recs = read_lineage(root, "s")
        files = sorted(
            p.name for p in (tmp_path / "ckpt2" / "s" / "data").glob("*.parquet")
        )
        assert [r["file"] for r in recs] == files
        assert sum(r["rows"] for r in recs) == 1000
        for r in recs:
            assert r["stage"] == "s"

    def test_file_uri_root(self, spark, tmp_path, monkeypatch):
        """A ``file:`` URI root resumes like a path: the second run does
        not rebuild, lineage counts the written rows, and nothing lands
        in a relative ``file:`` directory under the working directory."""
        monkeypatch.chdir(tmp_path)
        root = (tmp_path / "ckpt").as_uri()
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return spark.range(300).repartition(3)

        run_stage(spark, root, "s", build)
        out = run_stage(spark, root, "s", build)
        assert calls["n"] == 1
        assert out.count() == 300
        assert sum(r["rows"] for r in read_lineage(root, "s")) == 300
        assert not (tmp_path / "file:").exists()


class TestReadBack:
    def test_read_stage_takes_the_footer_schema(self, spark, pipeline_out, jobs_in):
        """Every stage of a pipeline run reads back with the schema and
        rows ``spark.read.parquet`` infers, and without a Spark job."""
        root = os.path.join(pipeline_out, "_ckpt")
        for stage in PIPELINE_STAGES:
            got, n_jobs = jobs_in(lambda: read_stage(spark, root, stage))
            assert n_jobs == 0, stage
            want = spark.read.parquet(os.path.join(root, stage, "data"))
            assert got.schema == want.schema, stage
            assert got.collect() == want.collect(), stage
            assert parquet_rows(os.path.join(root, stage, "data")) == want.count()

    def test_parquet_written_by_pyarrow_is_inferred(self, spark, tmp_path, jobs_in):
        """Parquet without a Spark schema in its footer keeps Spark's
        inference (a job over the footers)."""
        d = tmp_path / "pa"
        d.mkdir()
        pq.write_table(
            pa.table({"k": pa.array([1, 2, 3], pa.int32()), "s": ["a", None, "c"]}),
            d / "part-0.parquet",
        )
        got, n_jobs = jobs_in(lambda: read_parquet(spark, str(d)))
        assert n_jobs >= 1
        want = spark.read.parquet(str(d))
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert parquet_rows(str(d)) == 3


class TestStreaming:
    def test_partial_write_without_success_recomputes(self, spark, tmp_path):
        """Kill-mid-stage semantics: a stage directory with data files
        but no _SUCCESS marker is treated as absent (parquet commit is
        all-or-nothing), so the rerun recomputes and overwrites."""
        import os as _os

        root = str(tmp_path / "ckpt3")
        data_path = _os.path.join(root, "s", "data")
        run_stage(spark, root, "s", lambda: spark.range(100))
        # simulate a killed write: remove the marker, corrupt row count
        _os.remove(_os.path.join(data_path, "_SUCCESS"))
        calls = {"n": 0}

        def rebuild():
            calls["n"] += 1
            return spark.range(200)

        out = run_stage(spark, root, "s", rebuild)
        assert calls["n"] == 1  # recomputed
        assert out.count() == 200
        # and the marker is back for the next resume
        assert _os.path.exists(_os.path.join(data_path, "_SUCCESS"))
