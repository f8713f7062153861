"""Raster <-> vector zonal statistics over a long-form grid table.

Reference semantics (modules/availability.py:216-275, 960-969 via
predict_missing_gvi.py:192):

- zonal mean: per point, euclidean buffer of ``radius = distance//2``;
  clamp raster values at 0 FIRST, then mean, then round(3)
  (``clip(min=0).mean().round(3)``);
- zonal histogram: per-class cell counts inside the buffer ->
  percentage strings ``round(pct, 3)'%'``.

Buffer semantics pinned as: grid cells whose CENTER lies within
``radius`` of the point (exact circle — no polygon approximation;
SURVEY.md F4 note), mirrored identically in the DuckDB oracles.

Scale plan: the raster grid is the big side (a continental 10 m grid is
~1e12 cells). ``geo.cells.ring_join`` explodes the (bounded) points to
their 3x3 neighbor *meter bins* of size >= radius and broadcasts them;
the grid computes its bin with codegen math and equi-joins unshuffled.
The only shuffle carries per-(point, class) partial aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo.cells import ring_join


def _candidates(points: DataFrame, grid: DataFrame, radius: float) -> DataFrame:
    """(point, grid cell) pairs with the cell center within ``radius``
    (inclusive). Bins of edge ``max(radius, 1)`` m are packed like every
    other cell id into one bigint ``(bin_x << 32) + bin_y`` — injective
    while ``|bin_y| < 2^31`` (and ``|bin_x| < 2^31``) — and the key is
    linear, so the 3x3 ring is nine constant offsets."""
    size = F.lit(max(radius, 1.0))

    def packed_bin(x, y):
        bx = F.floor(x / size).cast("long")
        return F.shiftleft(bx, 32) + F.floor(y / size).cast("long")

    home = packed_bin(F.col("x"), F.col("y"))
    ring = F.array(*[home + F.lit((dx << 32) + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    d2 = (F.col("cx") - F.col("_px")) * (F.col("cx") - F.col("_px")) + (
        F.col("cy") - F.col("_py")
    ) * (F.col("cy") - F.col("_py"))
    return ring_join(points, ring, grid, packed_bin(F.col("cx"), F.col("cy"))).where(
        d2 <= F.lit(float(radius * radius))
    )


def zonal_mean(points: DataFrame, grid: DataFrame, radius: float = 25.0) -> DataFrame:
    """points(point_id, x, y) x grid(cx, cy, value) ->
    (point_id, mean_ndvi) with clamp-then-mean-then-round(3)."""
    cand = _candidates(points, grid, radius)
    return cand.groupBy("point_id").agg(
        F.round(F.avg(F.greatest(F.col("value"), F.lit(0.0))), 3).alias("mean_ndvi")
    )


def overlay_area_ratio(
    points: DataFrame,
    grid: DataFrame,
    class_col: str,
    positive_class,
    radius: float = 25.0,
) -> DataFrame:
    """Vector-overlay area ratio (reference J7: canopy area within the
    buffer / buffer area, modules/availability.py:707, 918), computed
    discretely over the grid table: fraction of in-buffer cells whose
    class is ``positive_class``. Same cell-center buffer semantics as
    zonal_mean, so numerator and denominator are consistent."""
    cand = _candidates(points, grid, radius)
    return cand.groupBy("point_id").agg(
        F.round(
            F.avg((F.col(class_col) == F.lit(positive_class)).cast("double")), 6
        ).alias("area_ratio")
    )


def zonal_histogram(
    points: DataFrame, grid: DataFrame, class_col: str = "class", radius: float = 25.0
) -> DataFrame:
    """Per-point per-class cell percentages as strings 'p%'
    (availability.py:960-969)."""
    cand = _candidates(points, grid, radius)
    counts = cand.groupBy("point_id", class_col).agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("point_id").agg(F.sum("n").alias("total"))
    return (
        counts.join(totals, "point_id")
        .withColumn(
            "pct",
            F.concat(
                F.round(F.col("n") * F.lit(100.0) / F.col("total"), 3).cast("string"),
                F.lit("%"),
            ),
        )
        .select("point_id", class_col, F.col("n").alias("cell_count"), "pct")
    )
