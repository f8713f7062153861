"""Checkpoint / lineage / resume layer.

Reference semantics being replaced:
- skip-if-exists stage cache (main_script.py:32-48): if points.gpkg
  exists the whole sampling stage is skipped;
- append-mode CSV resume (modules/process_data.py:347-366): restart
  appends only rows not yet written, dedup happens on read
  (scripts/get_gvi_gpkg.py:42).

Engine design: every stage writes to a deterministic path
``<root>/<stage>/data`` with Spark's atomic ``_SUCCESS`` marker, and
the committed files are the whole record:

- ``run_stage`` probes the marker first: hit => read back, no
  recompute (S10 semantics, but safe under concurrent/partial writes
  because parquet commit is all-or-nothing);
- ``read_lineage`` lists the committed parquet files on the driver and
  takes each file's row count from its footer (metadata only). Nothing
  is written from executors;
- ``committed_stages`` lists the committed stages whose names share a
  prefix (the slices of a chunked run).

``root`` is a URI (``file:``, ``hdfs:``, ...) or a local path; a
scheme-less path is made absolute, so Spark and the driver's one
filesystem handle resolve it to the same directory.
"""

from __future__ import annotations

from pathlib import Path
from urllib.parse import urlsplit

import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def _root(root: str) -> tuple[str, pafs.FileSystem, str]:
    """``root`` as (Spark path, filesystem, path on it)."""
    if not urlsplit(root).scheme:
        root = str(Path(root).absolute())
    fs, base = pafs.FileSystem.from_uri(root)
    return root.rstrip("/"), fs, base


def _stage_data(root: str, stage: str) -> tuple[str, pafs.FileSystem, str]:
    """``<root>/<stage>/data`` as (Spark path, filesystem, path on it)."""
    root, fs, base = _root(root)
    return f"{root}/{stage}/data", fs, f"{base}/{stage}/data"


def _committed(fs: pafs.FileSystem, path: str) -> bool:
    return fs.get_file_info(f"{path}/_SUCCESS").type == pafs.FileType.File


def run_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    build: "callable[[], DataFrame]",
) -> DataFrame:
    """Compute-or-restore a stage. Returns the stage DataFrame reading
    from the checkpoint (so downstream stages never recompute it)."""
    uri, fs, path = _stage_data(root, stage)
    if not _committed(fs, path):
        build().write.mode("overwrite").parquet(uri)
    return read_stage(spark, root, stage)


def committed_stages(root: str, prefix: str) -> list[str]:
    """The stages under ``root`` whose name starts with ``prefix`` and
    whose data is committed, sorted by name."""
    _, fs, base = _root(root)
    dirs = fs.get_file_info(pafs.FileSelector(base, allow_not_found=True))
    return sorted(
        d.base_name
        for d in dirs
        if d.type == pafs.FileType.Directory
        and d.base_name.startswith(prefix)
        and _committed(fs, f"{d.path}/data")
    )


def read_stage(spark: SparkSession, root: str, stage: str) -> DataFrame:
    """A committed stage, read back without the compute fallback."""
    return spark.read.parquet(_stage_data(root, stage)[0])


def read_lineage(root: str, stage: str) -> list[dict]:
    """One ``{stage, file, rows}`` record per committed parquet file of
    the stage, ``rows`` read from the file's footer."""
    _, fs, path = _stage_data(root, stage)
    files = fs.get_file_info(pafs.FileSelector(path, allow_not_found=True))
    return [
        {
            "stage": stage,
            "file": f.base_name,
            "rows": pq.read_metadata(f.path, filesystem=fs).num_rows,
        }
        for f in sorted(files, key=lambda f: f.base_name)
        if f.is_file and f.base_name.endswith(".parquet")
    ]
