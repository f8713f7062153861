"""Checkpoint/lineage/resume + structured streaming tests."""

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from streetview_naturevisibility_spark.operators.resume import (
    append_increment,
    read_lineage,
    resume_delta,
    run_stage,
)
from streetview_naturevisibility_spark.streaming.events import (
    stream_events_availablenow,
    windowed_counts,
)


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
        assert len(recs) >= 1
        assert sum(r["rows"] for r in recs) == 1000
        for r in recs:
            assert r["stage"] == "s"
            assert "wall_ms" in r and "rows_per_sec" in r

    def test_resume_delta_and_idempotent_append(self, spark, tmp_path):
        done = str(tmp_path / "done")
        inputs = spark.range(10).select(F.col("id").alias("point_id"))
        # nothing done yet -> everything pending
        assert resume_delta(inputs, done, "point_id").count() == 10
        # process first half
        first = inputs.where(F.col("point_id") < 5)
        append_increment(first, done)
        pending = resume_delta(inputs, done, "point_id")
        assert sorted(r.point_id for r in pending.collect()) == [5, 6, 7, 8, 9]
        # complete; resume yields empty, output has no duplicates
        append_increment(pending, done)
        assert resume_delta(inputs, done, "point_id").count() == 0
        got = spark.read.parquet(done)
        assert got.count() == 10
        assert got.select("point_id").distinct().count() == 10


class TestStreaming:
    def test_windowed_counts_batch_equals_stream(self, spark, tmp_path):
        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        batch = windowed_counts(events).orderBy("window_start", "event_type").toPandas()

        src = str(tmp_path / "src")  # file stream source needs a directory
        events.write.mode("overwrite").parquet(src)
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        stream_events_availablenow(spark, src, out, ckpt)
        streamed = (
            spark.read.parquet(out).orderBy("window_start", "event_type").toPandas()
        )
        # append mode only emits windows finalized by the watermark: the
        # stream output is the batch result MINUS windows within the 2h
        # horizon of the max event time
        max_ts = events.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0]
        horizon = max_ts - pd.Timedelta(hours=2)
        finalized = batch[batch["window_start"] + pd.Timedelta(hours=1) <= horizon]
        withheld = batch[batch["window_start"] + pd.Timedelta(hours=1) > horizon]
        assert len(streamed) >= len(finalized)
        assert len(streamed) + len(withheld) >= len(batch)
        merged = streamed.merge(
            batch, on=["window_start", "event_type"], suffixes=("_s", "_b")
        )
        assert len(merged) == len(streamed)  # every streamed row is a batch row
        assert (merged["n_s"] == merged["n_b"]).all()
        assert np.abs(merged["sum_value_s"] - merged["sum_value_b"]).max() < 1e-9

    def test_availablenow_is_incremental(self, spark, tmp_path):
        src = str(tmp_path / "src")
        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        events.limit(100).write.mode("overwrite").parquet(src)
        out = str(tmp_path / "out2")
        ckpt = str(tmp_path / "ckpt2")
        stream_events_availablenow(spark, src, out, ckpt)
        n1 = spark.read.parquet(out).agg(F.sum("n")).collect()[0][0]
        # watermark withholds the trailing unfinalized windows
        assert 0 < n1 <= 100
        # nothing new -> second run appends nothing (checkpoint resume)
        stream_events_availablenow(spark, src, out, ckpt)
        n2 = spark.read.parquet(out).agg(F.sum("n")).collect()[0][0]
        assert n2 == n1

    def test_partial_write_without_success_recomputes(self, spark, tmp_path):
        """Kill-mid-stage semantics: a stage directory with data files
        but no _SUCCESS marker is treated as absent (parquet commit is
        all-or-nothing), so the rerun recomputes and overwrites."""
        import glob
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


class TestStreamingDecontamination:
    def test_stream_static_join_matches_batch(self, spark, tmp_path):
        """File-stream docs through decontaminate_streaming (stateless
        stream-static broadcast join): planted contaminated docs are
        dropped, survivors match the batch decontaminate row set."""
        import os

        from streetview_naturevisibility_spark.operators.textops import (
            decontaminate,
            decontaminate_streaming,
        )

        bench_gram = " ".join(f"b{i}" for i in range(13))
        rows = []
        for i in range(40):
            if i % 10 == 3:
                text = f"lead words {bench_gram} trail words"
            elif i == 7:
                text = None  # null text must survive BOTH paths (review)
            else:
                text = " ".join(f"w{i}t{j}" for j in range(20))
            rows.append((i, text))
        src = str(tmp_path / "src")
        spark.createDataFrame(rows, "doc_id: long, text: string").repartition(
            4
        ).write.mode("overwrite").parquet(src)
        blocklist = spark.createDataFrame(
            [(0, "intro " + bench_gram + " outro")], "bid: long, text: string"
        )

        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        cleaned = decontaminate_streaming(stream, blocklist)
        out = str(tmp_path / "out")
        q = (
            cleaned.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
        )
        batch = sorted(
            r.doc_id
            for r in decontaminate(
                spark.read.parquet(src), blocklist
            ).select("doc_id").collect()
        )
        assert got == batch
        assert all(i % 10 != 3 for i in got) and len(got) == 36


