"""Checkpoint / lineage / resume layer.

Reference semantics being replaced:
- skip-if-exists stage cache (main_script.py:32-48): if points.gpkg
  exists the whole sampling stage is skipped;
- append-mode CSV resume (modules/process_data.py:347-366): restart
  appends only rows not yet written, dedup happens on read
  (scripts/get_gvi_gpkg.py:42).

Engine design (north rule: "resumable from checkpoint with
per-partition lineage + metrics"):

- every stage writes to a deterministic path ``<root>/<stage>/data``
  with Spark's atomic ``_SUCCESS`` marker;
- ``run_stage`` probes the marker first: hit => read back, no
  recompute (S10 semantics, but safe under concurrent/partial writes
  because parquet commit is all-or-nothing);
- each write also emits ``<root>/<stage>/_lineage/part-*.json`` — one
  record per output partition with {stage, partition_id, rows, wall_ms,
  rows_per_sec, host} — collected executor-side via mapInPandas (no
  driver round-trip of data).
"""

from __future__ import annotations

import json
import os
import socket
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def _success_exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _with_lineage(df: DataFrame, stage: str, lineage_dir: str) -> DataFrame:
    """Pass-through that records per-partition row counts + throughput
    executor-side as the data streams by (Arrow-batched)."""
    schema = df.schema

    def track(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        t0 = time.time()
        rows = 0
        for b in batches:
            rows += len(b)
            yield b
        wall = time.time() - t0
        os.makedirs(lineage_dir, exist_ok=True)
        rec = {
            "stage": stage,
            "partition": pid,
            "rows": rows,
            "wall_ms": round(wall * 1000, 3),
            "rows_per_sec": round(rows / wall, 3) if wall > 0 else None,
            "host": socket.gethostname(),
        }
        with open(os.path.join(lineage_dir, f"part-{pid:05d}.json"), "w") as f:
            json.dump(rec, f)

    return df.mapInPandas(track, schema)


def run_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    build: "callable[[], DataFrame]",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Compute-or-restore a stage. Returns the stage DataFrame reading
    from the checkpoint (so downstream stages never recompute it)."""
    data_path = os.path.join(root, stage, "data")
    lineage_dir = os.path.join(root, stage, "_lineage")
    if not _success_exists(data_path):
        df = _with_lineage(build(), stage, lineage_dir)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_path)
    return spark.read.parquet(data_path)


def read_lineage(root: str, stage: str) -> list[dict]:
    lineage_dir = os.path.join(root, stage, "_lineage")
    out = []
    if not os.path.isdir(lineage_dir):
        return out
    for name in sorted(os.listdir(lineage_dir)):
        if name.endswith(".json"):
            with open(os.path.join(lineage_dir, name)) as f:
                out.append(json.load(f))
    return out

