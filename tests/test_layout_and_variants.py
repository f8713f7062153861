"""Physical layout (partition pruning, bucketed joins) + streaming
dedup."""

import io
import os
from contextlib import redirect_stdout

import pandas as pd
import pytest
from pyspark.sql import functions as F

from streetview_naturevisibility_spark.operators.tiling import prepare_pages
from streetview_naturevisibility_spark.sources.layout import (
    read_bucketed,
    read_cell_partitioned,
    write_bucketed,
    write_cell_partitioned,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(True)
    return buf.getvalue()


class TestCellPartitioning:
    def test_partition_pruning(self, spark, fixture_dir, tmp_path):
        pages = prepare_pages(
            spark.read.parquet(os.path.join(fixture_dir, "web_pages.parquet")).drop(
                "lon", "lat"
            ),
            keep_text=False,
        )
        path = str(tmp_path / "pages_part")
        write_cell_partitioned(pages, path, coarse_steps=4)

        all_cells = [
            r.coarse_cell
            for r in spark.read.parquet(path).select("coarse_cell").distinct().collect()
        ]
        assert len(all_cells) >= 2
        one = all_cells[0]
        pruned = read_cell_partitioned(spark, path, [one])
        plan = _plan(pruned)
        assert "PartitionFilters" in plan
        # pruning is lossless
        assert (
            pruned.count()
            == spark.read.parquet(path).where(F.col("coarse_cell") == one).count()
        )

    def test_total_preserved(self, spark, fixture_dir, tmp_path):
        pages = prepare_pages(
            spark.read.parquet(os.path.join(fixture_dir, "web_pages.parquet")).drop(
                "lon", "lat"
            ),
            keep_text=False,
        )
        path = str(tmp_path / "pages_part2")
        write_cell_partitioned(pages, path)
        assert spark.read.parquet(path).count() == 500


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a = spark.range(10000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v1")
            )
            b = spark.range(10000).select(
                F.col("id").alias("k"), (F.col("id") * 3).alias("v2")
            )
            write_bucketed(a, "bt_a", "k", buckets=8)
            write_bucketed(b, "bt_b", "k", buckets=8)
            joined = read_bucketed(spark, "bt_a").join(read_bucketed(spark, "bt_b"), "k")
            plan = _plan(joined)
            phys = plan.split("== Physical Plan ==")[-1]
            assert "Exchange" not in phys  # co-located: zero shuffles
            assert joined.count() == 10000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
            spark.sql("DROP TABLE IF EXISTS bt_a")
            spark.sql("DROP TABLE IF EXISTS bt_b")


class TestStreamDedup:
    def test_duplicates_dropped_across_batches(self, spark, tmp_path):
        from streetview_naturevisibility_spark.streaming.events import (
            stream_dedup_events,
        )

        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(200)
        src = str(tmp_path / "src")
        events.write.mode("overwrite").parquet(src)
        # second file duplicates half the events (resume-with-overlap)
        events.limit(100).write.mode("append").parquet(src)
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        stream_dedup_events(spark, src, out, ckpt)
        got = spark.read.parquet(out)
        assert got.count() == got.select("event_id").distinct().count()

    def test_jittered_retries_dropped_within_watermark(self, spark, tmp_path):
        # retry-delivered duplicates: same event_id, ts jittered by a few
        # seconds. dropDuplicates([id, ts]) would KEEP these; the
        # within-watermark variant must drop them.
        from streetview_naturevisibility_spark.streaming.events import (
            stream_dedup_within_watermark,
        )

        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(200)
        src = str(tmp_path / "src")
        events.write.mode("overwrite").parquet(src)
        retries = events.limit(80).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 7 SECONDS")
        )
        retries.write.mode("append").parquet(src)
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        stream_dedup_within_watermark(spark, src, out, ckpt)
        got = spark.read.parquet(out)
        n_ids = events.select("event_id").distinct().count()
        assert got.count() == n_ids
        assert got.select("event_id").distinct().count() == n_ids

    def test_content_dedup_drops_recrawls(self, spark, tmp_path):
        # re-crawled byte-identical docs collapse by content digest
        from streetview_naturevisibility_spark.streaming.events import (
            stream_dedup_content,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        src = str(tmp_path / "src")
        docs.write.mode("overwrite").parquet(src)
        # recrawl: same text under new doc_ids
        docs.limit(20).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10_000_000)
        ).write.mode("append").parquet(src)
        out = str(tmp_path / "out")
        stream_dedup_content(spark, src, out, str(tmp_path / "ckpt"))
        got = spark.read.parquet(out)
        n_texts = docs.select("text").distinct().count()
        assert got.count() == n_texts
        assert got.select("text").distinct().count() == n_texts
