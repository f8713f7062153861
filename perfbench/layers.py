"""The traced run: the same public operator calls the CLI commands make,
in the same order, each wrapped in a span and a Spark job group named
after the package module it calls into, with an eager checkpoint at
every layer boundary. ``rollup`` turns the uncompressed event log of the
session into the per-layer metrics."""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import time
from collections import defaultdict

from pyspark.sql import functions as F

from streetview_naturevisibility_spark.operators.aggregates import (
    availability_score,
    build_intersection,
    gvi_per_road,
    missing_images_metrics,
    panoramic_images_metrics,
    roads_with_avg_gvi,
    top5_highways,
    unavailable_images_per_highway,
    usability_score,
)
from streetview_naturevisibility_spark.operators.corpus import (
    dedup_keep_canonical,
    duplicate_clusters,
    pack_rows,
)
from streetview_naturevisibility_spark.operators.dedup import minhash_lsh_pairs
from streetview_naturevisibility_spark.operators.gvi import score_snapped_points
from streetview_naturevisibility_spark.operators.knn import knn_snap
from streetview_naturevisibility_spark.operators.regression import (
    gam_cv_metrics,
    gap_fill_cv_metrics,
    gap_fill_gam,
)
from streetview_naturevisibility_spark.operators.resume import read_lineage, run_stage
from streetview_naturevisibility_spark.operators.sampling import sample_points
from streetview_naturevisibility_spark.operators.textops import analyze_documents, dsir_select
from streetview_naturevisibility_spark.operators.tiling import prepare_pages
from streetview_naturevisibility_spark.operators.zonal import zonal_mean

from inputs import GAPFILL_DISTANCE, PACK_TOKENS, SNAP_RADIUS, SPACING

LAYERS = (
    "sampling", "tiling", "knn", "gvi", "aggregates", "zonal",
    "regression", "resume", "textops", "dedup", "corpus",
)
LAYER_METRICS = (
    "wall_s", "task_s", "task_cpu_s", "noncpu_s", "shuffle_write_mb",
    "spill_mb", "materialized_mb", "task_skew", "rows_out", "failed_tasks",
)
EXTRA_METRICS = {
    "session.start_s": "s",
    "knn.hit_ratio": "1",
    "knn.shuffle_records_per_hit": "count",
    "dedup.pairs_out": "count",
    "dedup.planted_recall": "1",
    "dedup.dropped_buckets": "count",
    "textops.keep_ratio": "1",
    "aggregates.jobs": "count",
    "regression.driver_s": "s",
    "trace.overhead_s": "s",
}
UNITS = {
    "wall_s": "s", "task_s": "s", "task_cpu_s": "s", "noncpu_s": "s",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "materialized_mb": "MB",
    "task_skew": "1", "rows_out": "count", "failed_tasks": "count",
}
BOOKKEEPING = "trace"
UNTRACED = "untraced"
MB = 1024.0 * 1024.0


class Tracer:
    """Spans and job groups around layer calls, plus the counts taken at
    the boundaries (under the ``trace`` job group, outside every span)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []
        self.rows: dict[str, int] = defaultdict(int)
        self.counts: dict[str, float] = {}
        self.bookkeeping_s = 0.0
        self.sc.setJobGroup(BOOKKEEPING, BOOKKEEPING)

    @contextlib.contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            self.sc.setJobGroup(BOOKKEEPING, BOOKKEEPING)

    @contextlib.contextmanager
    def bookkeeping(self):
        """Counts the benchmark takes for its own metrics (not a layer)."""
        t0 = time.time()
        try:
            yield
        finally:
            self.bookkeeping_s += time.time() - t0

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def op(self, name: str, build):
        """Run ``build`` inside layer ``name`` and checkpoint its result
        eagerly there, so the next layer starts from materialized rows."""
        with self.layer(name):
            df = build().localCheckpoint(eager=True)
        with self.bookkeeping():
            n = df.count()
        self.rows[name] += n
        return df, n


# ------------------------------------------------------------ GVI passes

def pipeline(t: Tracer, roads_path: str, pages_path: str, out: str) -> None:
    """`cli pipeline --roads --pages --out` (cmd_pipeline)."""
    spark = t.spark
    root = os.path.join(out, "_ckpt")
    with t.layer("sampling"):
        roads = spark.read.parquet(roads_path)
    pts, n_points = t.op("sampling", lambda: sample_points(roads, SPACING))
    with t.layer("resume"):
        points = run_stage(spark, root, "sample_points", lambda: pts)
    prep, _ = t.op("tiling", lambda: prepare_pages(spark.read.parquet(pages_path)))
    with t.layer("resume"):
        pages = run_stage(spark, root, "pages_prepared", lambda: prep)
    snap, _ = t.op("knn", lambda: knn_snap(points, pages, max_distance=2 * SNAP_RADIUS))
    with t.bookkeeping():
        t.add("knn.hits", snap.where(F.col("page_url") != "").count())
    t.add("knn.points", n_points)
    with t.layer("resume"):
        snapped = run_stage(spark, root, "snapped", lambda: snap)
    scored, _ = t.op("gvi", lambda: score_snapped_points(snapped, pages, False))
    with t.layer("resume"):
        gvi = run_stage(spark, root, "gvi_points", lambda: scored)
    per_road, _ = t.op("aggregates", lambda: gvi_per_road(build_intersection(gvi, points, roads)))
    with t.layer("resume"):
        per_road.orderBy("road_id").write.mode("overwrite").parquet(os.path.join(out, "gvi_per_road"))
        gvi.orderBy("point_id").write.mode("overwrite").parquet(os.path.join(out, "gvi_points"))
        for stage in ("sample_points", "pages_prepared", "snapped", "gvi_points"):
            read_lineage(root, stage)


def metrics(t: Tracer, roads_path: str, out: str) -> str:
    """`cli metrics --roads --results` (cmd_metrics); returns its printout."""
    spark = t.spark
    buf = io.StringIO()
    with t.layer("aggregates"), contextlib.redirect_stdout(buf):
        roads = spark.read.parquet(roads_path)
        points = spark.read.parquet(os.path.join(out, "_ckpt", "sample_points", "data"))
        gvi = spark.read.parquet(os.path.join(out, "gvi_points"))
        inter = build_intersection(gvi, points, roads).cache()
        queries = [
            ("gvi-streets (per-road):", roads_with_avg_gvi(roads, gvi_per_road(inter)).orderBy("road_id")),
            ("missing images:", missing_images_metrics(inter)),
            ("panoramic images:", panoramic_images_metrics(inter)),
            ("availability score:", availability_score(inter)),
            ("usability score:", usability_score(inter)),
            ("top-5 highway types by image count:", top5_highways(unavailable_images_per_highway(inter))),
        ]
        for title, df in queries:
            print(title)
            df.show(20)
    with t.bookkeeping():
        t.rows["aggregates"] += sum(df.count() for _, df in queries)
    return buf.getvalue()


def gap_fill(t: Tracer, out: str, grid_path: str) -> None:
    """`cli gap-fill --results --ndvi-grid --distance --model gam` (cmd_gap_fill)."""
    spark = t.spark
    with t.layer("zonal"):
        gvi = spark.read.parquet(os.path.join(out, "gvi_points"))
        points = spark.read.parquet(os.path.join(out, "_ckpt", "sample_points", "data"))
        grid = spark.read.parquet(grid_path)
    ndvi, _ = t.op("zonal", lambda: zonal_mean(points, grid, radius=GAPFILL_DISTANCE / 2.0))
    with t.layer("regression"):
        feats = gvi.join(ndvi, "point_id", "left").withColumnRenamed("mean_ndvi", "ndvi")
        known_feats = feats.where(F.col("ndvi").isNotNull())
        m = gap_fill_cv_metrics(known_feats, feature="ndvi", target="gvi").collect()[0]
    if not m.n_known:
        raise RuntimeError("gap-fill: no points with both GVI and NDVI")
    filled, _ = t.op("regression", lambda: gap_fill_gam(known_feats, feature="ndvi", target="gvi"))
    with t.layer("resume"):
        filled.orderBy("point_id").write.mode("overwrite").parquet(os.path.join(out, "gvi_filled"))
    with t.layer("regression"):
        gam_cv_metrics(known_feats, feature="ndvi", target="gvi")


# --------------------------------------------------------- curation pass

def curate(t: Tracer, docs_path: str, target_path: str, dsir_keep: int, out: str, planted: list[int]) -> dict:
    """`cli curate --docs --out --dsir-target --dsir-keep --pack-tokens`
    (cmd_curate at its defaults otherwise); returns the funnel counts.
    The boundary checkpoints keep the columns later stages read."""
    spark = t.spark
    counts = {}
    with t.layer("textops"):
        docs = spark.read.parquet(docs_path)
        counts["in"] = docs.count()
    kept_q, counts["quality"] = t.op(
        "textops",
        lambda: analyze_documents(docs, keep_input_cols=True)
        .where(F.col("quality_score") >= F.lit(0.5))
        .select("doc_id", "text", "lang", "lang_pred", "n_tokens", "quality_score"),
    )

    def exact_dedup():
        digests = kept_q.withColumn("_digest", F.md5(F.col("text")))
        keepers = digests.groupBy("_digest").agg(F.min("doc_id").alias("doc_id"))
        return digests.join(keepers, ["_digest", "doc_id"], "left_semi").drop("_digest")

    exact, counts["exact"] = t.op("dedup", exact_dedup)
    with t.layer("dedup"):
        pairs, lsh = minhash_lsh_pairs(exact, jaccard_threshold=0.5, max_bucket=10_000, return_metrics=True)
        pairs = pairs.localCheckpoint(eager=True)
        m = lsh.collect()[0]
    with t.bookkeeping():
        found = {(r.id_a, r.id_b) for r in pairs.select("id_a", "id_b").collect()}
    t.rows["dedup"] += len(found)
    t.add("dedup.pairs_out", len(found))
    t.add("dedup.planted", len(planted))
    t.add("dedup.planted_found", sum((i - 1, i) in found for i in planted))
    t.add("dedup.dropped_buckets", int(m.dropped_buckets))
    clusters, _ = t.op("corpus", lambda: duplicate_clusters(pairs, algorithm="propagation"))
    near, counts["near"] = t.op("corpus", lambda: dedup_keep_canonical(exact, clusters))
    counts["dsir_in"] = counts["near"]
    kept, counts["dsir"] = t.op(
        "textops",
        lambda: dsir_select(near, spark.read.parquet(target_path), n=dsir_keep, n_buckets=10_000)
        .drop("dsir_logweight"),
    )
    packed, counts["out"] = t.op("corpus", lambda: pack_rows(kept, PACK_TOKENS, tokens_col="n_tokens"))
    with t.layer("resume"):
        packed.write.mode("overwrite").parquet(os.path.join(out, "curated"))
    t.add("textops.in", counts["in"])
    t.add("textops.kept", counts["quality"])
    return counts


# ---------------------------------------------------------------- rollup

def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def rollup(event_log_dir: str, t: Tracer, pass_wall: float, untraced_wall: float, session_start: float) -> dict:
    """Per-layer metrics from the session's event log and the spans."""
    files = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)]
    if len(files) != 1 or not os.path.isfile(files[0]):
        raise RuntimeError(f"expected one uncompressed event log file in {event_log_dir}, found {files}")
    job_group, stage_group = {}, {}
    job_window = {}
    active: dict[int, str] = {}
    last_group = UNTRACED
    tasks = defaultdict(list)  # group -> [(stage, run_ms, cpu_ns, ok)]
    acc = defaultdict(lambda: defaultdict(float))
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or UNTRACED
                job_group[ev["Job ID"]] = group
                job_window[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
                active[ev["Job ID"]] = group
                for s in ev["Stage IDs"]:
                    stage_group[s] = group
            elif kind == "SparkListenerJobEnd":
                last_group = active.pop(ev["Job ID"], last_group)
                job_window[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], UNTRACED)
                m = ev.get("Task Metrics") or {}
                ok = ev["Task End Reason"]["Reason"] == "Success"
                tasks[group].append((ev["Stage ID"], m.get("Executor Run Time", 0), m.get("Executor CPU Time", 0), ok))
                a = acc[group]
                a["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                a["shuffle_records"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Records Written", 0)
                a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                a["records_written"] += m.get("Output Metrics", {}).get("Records Written", 0)
            elif kind == "SparkListenerBlockUpdated":
                info = ev["Block Updated Info"]
                if info["Block ID"].startswith("rdd_"):
                    group = next(iter(active.values()), last_group)
                    acc[group]["block_bytes"] += info.get("Memory Size", 0) + info.get("Disk Size", 0)

    wall = defaultdict(float)
    for name, a, b in t.spans:
        wall[name] += b - a
    out = {}
    for layer in LAYERS:
        rows = tasks.get(layer, [])
        run_s = sum(r[1] for r in rows) / 1000.0
        cpu_s = sum(r[2] for r in rows) / 1e9
        by_stage = defaultdict(list)
        for stage, run_ms, _, _ in rows:
            by_stage[stage].append(run_ms)
        skew = 0.0
        if by_stage:
            heaviest = max(by_stage.values(), key=sum)
            med = statistics.median(heaviest)
            skew = max(heaviest) / med if med > 0 else 1.0
        a = acc[layer]
        rows_out = int(a["records_written"]) if layer == "resume" else t.rows.get(layer, 0)
        vals = {
            "wall_s": wall.get(layer, 0.0),
            "task_s": run_s,
            "task_cpu_s": cpu_s,
            "noncpu_s": run_s - cpu_s,
            "shuffle_write_mb": a["shuffle_bytes"] / MB,
            "spill_mb": a["spill_bytes"] / MB,
            "materialized_mb": a["block_bytes"] / MB,
            "task_skew": skew,
            "rows_out": rows_out,
            "failed_tasks": sum(1 for r in rows if not r[3]),
        }
        for k, v in vals.items():
            out[f"{layer}.{k}"] = (v, UNITS[k])

    c = t.counts
    reg_jobs = [tuple(w) for j, w in job_window.items() if job_group[j] == "regression" and w[1] is not None]
    hits = c.get("knn.hits", 0)
    extra = {
        "session.start_s": session_start,
        "knn.hit_ratio": hits / c["knn.points"] if c.get("knn.points") else 0.0,
        "knn.shuffle_records_per_hit": acc["knn"]["shuffle_records"] / hits if hits else 0.0,
        "dedup.pairs_out": c.get("dedup.pairs_out", 0),
        "dedup.planted_recall": c["dedup.planted_found"] / c["dedup.planted"] if c.get("dedup.planted") else 0.0,
        "dedup.dropped_buckets": c.get("dedup.dropped_buckets", 0),
        "textops.keep_ratio": c["textops.kept"] / c["textops.in"] if c.get("textops.in") else 0.0,
        "aggregates.jobs": sum(1 for g in job_group.values() if g == "aggregates"),
        "regression.driver_s": max(0.0, wall.get("regression", 0.0) - _union(reg_jobs)),
        "trace.overhead_s": pass_wall - untraced_wall,
    }
    for k, v in extra.items():
        out[k] = (v, EXTRA_METRICS[k])
    return {"metrics": out, "attributed_s": sum(wall.values())}
