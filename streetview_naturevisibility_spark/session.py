"""SparkSession factory with scale-oriented defaults.

The engine targets multi-executor clusters over ~100 TB inputs; in this
sandbox it runs on local[N]. All settings below are cluster-safe:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow on for every pandas UDF crossing (the only Python in the engine),
- bounded Arrow batches so wide ``html:binary`` rows can't blow the
  Python worker heap,
- shuffle partitions default to a sandbox-friendly value; on a real
  cluster set ``spark.sql.shuffle.partitions`` ~ 2-3x total cores (AQE
  coalesces the excess).
- for ``local``/``local[N]`` masters, the Python worker daemon is
  ``pyworker``: Spark's own daemon with pyspark.zip, the py4j zip and
  the spark-core jar off ``sys.path`` (when the workers find the
  package and an installed pyspark of the same version). Every task
  invalidates import caches, and each zip importer then re-reads its
  archive directory: 110-250 ms per task before its UDF runs, 50-70 ms
  without them. Other masters keep Spark's stock daemon: their
  executors may see the package only once ``--py-files`` are installed
  at task time. An explicit ``spark.python.daemon.module`` in
  ``extra_conf`` wins.

It also holds the engine's one size policy (``materialize`` and
``fits``): how a frame is stored, and whether it may be broadcast or
collected to the driver.
"""

from __future__ import annotations

import os
import site

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streetview_naturevisibility_spark import pyworker

_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bound Arrow batch size: pages rows carry html:binary payloads.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic session timezone for timestamp round-trips vs DuckDB.
    "spark.sql.session.timeZone": "UTC",
    # 100 TB scans want larger split sizes; harmless locally.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # r7 (guide §3.1/§9): allow shuffled-hash joins when a side fits a
    # per-partition hash map instead of always sorting both sides —
    # the funnel's digest semi-join sorts a text-carrying frame
    # otherwise (interleaved A/B: 4.9 -> 4.5 s warm per action). The
    # AQE threshold bounds the build side per post-shuffle partition,
    # so the OOM risk the guide notes stays capped on any cluster.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "256m",
    # Generated classes per JVM. A warm pass compiles 94 + 50 + 41
    # (pipeline / metrics / gap-fill) or 152 (curate) distinct classes;
    # at the default 100 each pass evicted and recompiled them all. A
    # static conf, so it also reaches every executor's cache.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Quieter driver logs in the sandbox.
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "streetview-naturevisibility-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 in the
    sandbox); on a real cluster pass None and let spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in _worker_conf(master).items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _worker_conf(master: str) -> dict[str, str]:
    """The Python worker daemon: ``pyworker`` for ``local``/``local[N]``
    masters, whose workers fork from the driver's own environment, when
    that environment finds the package (working directory, PYTHONPATH or
    site-packages); Spark's stock daemon otherwise, and for any other
    master, whose executors may see the package only once ``--py-files``
    are installed at task time."""
    root = os.path.realpath(os.path.dirname(os.path.dirname(pyworker.__file__)))
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep), *site.getsitepackages()]
    local = master == "local" or master.startswith("local[")
    if local and any(d and os.path.realpath(d) == root for d in dirs):
        return {"spark.python.daemon.module": pyworker.__name__}
    return {}


# payload bytes of one fixed-width value; any other fixed type counts 8
_WIDTHS = {T.ByteType: 1, T.BooleanType: 1, T.ShortType: 2, T.IntegerType: 4,
           T.FloatType: 4, T.DateType: 4}


def _payload(c: Column, t: T.DataType) -> Column:
    """Payload bytes of the value ``c`` of type ``t``."""
    if isinstance(t, T.StructType):
        return sum((_payload(c[f.name], f.dataType) for f in t.fields), F.lit(0))
    if isinstance(t, (T.StringType, T.BinaryType)):
        n = F.octet_length(c)
    elif isinstance(t, T.ArrayType):
        e = t.elementType
        if _wide(e) or isinstance(e, T.StringType):
            n = F.aggregate(c, F.lit(0).cast("long"), lambda a, x: a + _payload(x, e))
        else:
            n = F.size(c) * _WIDTHS.get(type(e), 8)
    else:
        return F.lit(_WIDTHS.get(type(t), 8))
    return F.coalesce(n.cast("long"), F.lit(0).cast("long"))


def _wide(t: T.DataType) -> bool:
    """Whether a value of type ``t`` holds an array or binary."""
    if isinstance(t, T.StructType):
        return any(_wide(f.dataType) for f in t.fields)
    return isinstance(t, (T.ArrayType, T.BinaryType))


def materialize(df: DataFrame, where=None, **observed) -> tuple[DataFrame, dict]:
    """The one place the engine stores a frame: an eager
    ``localCheckpoint`` of ``df`` (filtered by ``where``), so every
    later consumer reads the stored rows instead of re-running the
    lineage above them. Returns the stored frame and the observation
    of the same job: the rows kept (``rows``), their payload bytes
    (``bytes``) and each ``observed`` aggregate over ``df`` before the
    filter, so no count needs a job of its own. The observation also
    keeps the filter above ``df``'s projection: pushed below it, the
    filter would derive its columns a second time.

    Storage level comes from the schema. A frame whose rows carry an
    array or binary value is a one-pass, scan-sized intermediate
    (shingle and bucket-member arrays, embedding assignments, DSIR
    bucket arrays) and is stored ``DISK_ONLY``: in memory it squats on
    executor storage faster than the ContextCleaner reclaims it, and
    page-cache reads stay fast (r7 bench, sf0.1 at local[32]: semdedup
    after the funnel, pack and DSIR legs 12.0 -> 10.0 s; suite 121 ->
    112 s). Any other frame is a narrow proxy consumed again at once
    and keeps the default memory-first level: ``DISK_ONLY`` measured
    slower on the kNN candidate frame (``snap_kernel_pages`` 2.59 ->
    2.94 s).
    ``localCheckpoint``, not ``persist``: raw row blocks (the columnar
    cache build measured ~4x the block write for array columns),
    nothing left in the CacheManager, and the blocks are reclaimed
    when the returned frame is dropped. On a cluster that can lose
    executors, a reliable ``checkpoint()`` belongs here.

    Payload bytes are fixed-width columns by type width, strings and
    binary by ``octet_length``, arrays by ``size`` x element width.
    ``fits`` judges them."""
    obs = Observation()
    keep = F.lit(True) if where is None else where
    row = sum(
        (_payload(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields),
        F.lit(0).cast("long"),
    )
    stored = df.observe(
        obs,
        F.count(F.when(keep, 1)).alias("rows"),
        F.coalesce(F.sum(F.when(keep, row)), F.lit(0).cast("long")).alias("bytes"),
        *(c.alias(k) for k, c in observed.items()),
    )
    stored = (stored if where is None else stored.where(where)).localCheckpoint(
        eager=True,
        storageLevel=StorageLevel.DISK_ONLY if _wide(df.schema) else None,
    )
    return stored, obs.get


def fits(spark: SparkSession, nbytes: float) -> bool:
    """Whether ``nbytes`` of payload may be broadcast or collected to
    the driver: within ``spark.sql.autoBroadcastJoinThreshold``, the
    budget Spark itself broadcasts by (``-1``: nothing fits). Driver
    collect shares it, since a broadcast relation is built on the
    driver too."""
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return 0 <= nbytes <= limit
