"""Per-point GVI scoring — Stage D of the reference pipeline
(modules/process_data.py:343-391) as one Arrow-batched column pipeline.

The reference runs a thread pool of per-row image downloads + GPU
segmentation and appends CSV rows under a lock (nondeterministic row
order). The engine replaces all of that with a single ``withColumn``
chain over the snapped points: the page payload is already a column,
scoring is a pandas UDF, output order is deterministic by point_id.

Flag semantics reproduced exactly (download_image, process_data.py:
304-340): no page within radius  -> [gvi=None, pano=False, missing=True,
error=False]; unsuitable (no road centre found in a non-panoramic label
grid) -> missing=True, error=False; kernel exception -> missing=True,
error=True; pano rows keep is_panoramic=True. ``page_url`` stays ""
(empty, never null) on misses and ``is_panoramic`` nulls coerce to
False (osmnx_road_network.py:150-154).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StructField,
    StructType,
)

from ..functions.labels import process_labels
from ..functions.text import token_labels_kernel

_RESULT = StructType(
    [
        StructField("gvi", DoubleType()),
        StructField("is_panoramic", BooleanType()),
        StructField("missing", BooleanType()),
        StructField("error", BooleanType()),
    ]
)


def make_gvi_udf(cut_by_road_centres: bool = False):
    @F.pandas_udf(_RESULT)
    def gvi_score(text: pd.Series, is_panoramic: pd.Series) -> pd.DataFrame:
        labels = token_labels_kernel(text)
        out = {"gvi": [], "is_panoramic": [], "missing": [], "error": []}
        for lab, pano in zip(labels, is_panoramic):
            g, p, m, e = process_labels(
                np.asarray(lab, dtype=np.int32), bool(pano), cut_by_road_centres
            )
            out["gvi"].append(g)
            out["is_panoramic"].append(bool(p) if p is not None else False)
            out["missing"].append(m)
            out["error"].append(e)
        return pd.DataFrame(out)

    return gvi_score


def score_snapped_points(
    snapped: DataFrame,
    pages: DataFrame,
    cut_by_road_centres: bool = False,
) -> DataFrame:
    """snapped(point_id, lon, lat, page_url, snap_distance,
    is_panoramic, ...) x pages(url, text[, warc_ts]) -> GVI_POINTS
    schema.

    The text lookup is the reference's Graph-API metadata hop
    (process_data.py:312-319) collapsed into an ordinary left equi-join
    against the pages table (SURVEY.md J9); pages may be the big side
    so the snapped points (bounded) are broadcast. ``cli pipeline``
    passes the pages of the hit urls only (``tiling.hit_pages``), with
    every snapshot of each; any superset of those rows, such as all of
    ``prepare_pages``' output, scores the same.

    Urls are NOT assumed unique in pages: a crawl corpus plausibly
    holds several snapshots of one url (distinct warc_ts), and a
    duplicate-url join would duplicate scored points and double-count
    every downstream aggregate. The join output is bounded (<= hits x
    dup-factor), so it is reduced to one row per point deterministically
    (first by ``order_col`` if present — e.g. warc_ts picks the
    earliest snapshot — else by text) BEFORE the scoring UDF runs.
    """
    gvi_udf = make_gvi_udf(cut_by_road_centres)

    hits = snapped.where(F.col("page_url") != "")
    misses = snapped.where(F.col("page_url") == "")

    from pyspark.sql import Window

    page_cols = ["page_url", "text"]
    # Total-order window: warc_ts alone is not a total order (two
    # snapshots of one url can share a timestamp), which would make
    # row_number's winner nondeterministic across partitionings and
    # break checkpoint-resume equality / contract reruns. Tie-break by
    # text; equal (warc_ts, text) rows are interchangeable payloads.
    if "warc_ts" in pages.columns:
        page_cols.append("warc_ts")
        order_cols = ["warc_ts", "text"]
    else:
        order_cols = ["text"]
    w = Window.partitionBy("point_id").orderBy(*order_cols)
    scored_hits = (
        pages.select(F.col("url").alias("page_url"), *[c for c in page_cols if c != "page_url"])
        .join(F.broadcast(hits), "page_url")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .withColumn("_r", gvi_udf(F.col("text"), F.col("is_panoramic")))
        .select(
            "point_id",
            F.col("lon").alias("x"),
            F.col("lat").alias("y"),
            F.col("_r.gvi").alias("gvi"),
            F.col("_r.is_panoramic").alias("is_panoramic"),
            F.col("_r.missing").alias("missing"),
            F.col("_r.error").alias("error"),
            "page_url",
            "snap_distance",
        )
    )
    scored_misses = misses.select(
        "point_id",
        F.col("lon").alias("x"),
        F.col("lat").alias("y"),
        F.lit(None).cast("double").alias("gvi"),
        F.lit(False).alias("is_panoramic"),
        F.lit(True).alias("missing"),
        F.lit(False).alias("error"),
        "page_url",
        F.lit(None).cast("double").alias("snap_distance"),
    )
    return scored_hits.unionByName(scored_misses)
