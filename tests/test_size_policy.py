"""The engine's one size policy (``session.materialize`` / ``fits``):
storage level from the schema, payload bytes from the observation, and
the broadcast decisions that follow the one byte budget."""

import pandas as pd
from pyspark.sql import functions as F

from conftest import SF_DIR
from streetview_naturevisibility_spark.operators import dedup
from streetview_naturevisibility_spark.session import fits, materialize


def test_storage_level_follows_schema(spark):
    """Array and binary frames are stored DISK_ONLY, a narrow frame at
    the default memory-first level; the observation counts rows and
    payload bytes (8 per long, ``size`` x 8 per long array,
    ``octet_length`` per string)."""
    base = spark.range(4)

    def stored(*cols):
        df, st = materialize(base.select("id", *cols))
        return df._jdf.queryExecution().analyzed().rdd().getStorageLevel(), st

    arr, st_arr = stored(F.array("id", "id").alias("a"))
    binary, _ = stored(F.col("id").cast("string").cast("binary").alias("b"))
    narrow, st_narrow = stored(F.col("id").cast("string").alias("s"))
    for level in (arr, binary):
        assert level.useDisk() and not level.useMemory()
    assert narrow.useDisk() and narrow.useMemory()
    assert (st_arr["rows"], st_arr["bytes"]) == (4, 4 * 8 + 4 * 16)
    assert (st_narrow["rows"], st_narrow["bytes"]) == (4, 4 * 8 + 4)


def test_fits_reads_the_broadcast_threshold(spark, no_broadcast):
    assert fits(spark, 0) and fits(spark, 64 << 20)
    assert not fits(spark, (64 << 20) + 1)
    with no_broadcast():
        assert not fits(spark, 0)


def test_lsh_verify_broadcasts_nothing_without_budget(spark, no_broadcast):
    """With ``autoBroadcastJoinThreshold=-1`` neither verify join of
    ``minhash_lsh_pairs`` broadcasts (an explicit broadcast hint would
    still broadcast under -1), and the pairs equal a default run."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def pairs():
        return dedup.minhash_lsh_pairs(docs, k=32, bands=16, jaccard_threshold=0.2)

    want = sorted(map(tuple, pairs().collect()))
    with no_broadcast():
        lazy = pairs()
        got = sorted(map(tuple, lazy.collect()))
        plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan
    assert want and got == want


def test_curate_funnel_query_analyzes_each_doc_once(spark, monkeypatch):
    """``q_curate_funnel`` derives the quality features once per doc: a
    counting identity UDF in front of ``analyze_documents`` sees every
    input doc exactly once, although the quality survivors feed several
    lazy consumers."""
    import __spark_entry__ as entry
    from streetview_naturevisibility_spark.operators import textops

    seen = spark.sparkContext.accumulator(0)

    @F.pandas_udf("long")
    def count_ids(ids: pd.Series) -> pd.Series:
        seen.add(len(ids))
        return ids

    analyze = textops.analyze_documents
    monkeypatch.setattr(
        textops,
        "analyze_documents",
        lambda docs, **kw: analyze(docs.withColumn("doc_id", count_ids("doc_id")), **kw),
    )
    row = entry.q_curate_funnel(spark, SF_DIR).collect()[0]
    assert seen.value == row.n_in


def test_bloom_anti_join_probes_once_without_budget(spark, no_broadcast):
    """With nothing fitting the budget, ``bloom_anti_join`` still runs
    its Python probe only in the candidate-key materialization: the
    returned plan holds no ``ArrowEvalPython``, and the result is the
    plain anti-join."""
    from streetview_naturevisibility_spark.operators.bloom import (
        bloom_anti_join,
        build_bloom,
    )

    batch = spark.range(0, 600).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("k"), F.col("id") % 300).alias("key")
    )
    done = spark.range(0, 100).select(F.concat(F.lit("k"), F.col("id")).alias("key"))
    bloom = build_bloom(done, "key", capacity=100, fpp=0.01)
    want = sorted(r.doc_id for r in batch.join(done, "key", "left_anti").collect())
    with no_broadcast():
        out = bloom_anti_join(batch, done, "key", bloom)
        got = sorted(r.doc_id for r in out.collect())
        plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan, plan
    assert got == want


def test_keep_canonical_broadcasts_nothing_without_budget(spark, no_broadcast):
    """``dedup_keep_canonical`` broadcasts the drop set only when it
    ``fits``: under ``-1`` the executed plan has no ``BroadcastExchange``."""
    from streetview_naturevisibility_spark.operators.corpus import (
        dedup_keep_canonical,
        duplicate_clusters,
    )

    docs = spark.createDataFrame([(i, f"t{i}") for i in range(8)], "doc_id: long, text: string")
    clusters = duplicate_clusters(
        spark.createDataFrame([(1, 2), (2, 5)], "id_a: long, id_b: long")
    )
    with no_broadcast():
        out = dedup_keep_canonical(docs, clusters)
        kept = sorted(r.doc_id for r in out.collect())
        plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan
    assert kept == [0, 1, 3, 4, 6, 7]
