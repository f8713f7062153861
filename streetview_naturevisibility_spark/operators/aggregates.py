"""Aggregation & reporting chain — scripts/mean_gvi_street.py +
scripts/results_metrics.py as one declarative DAG.

All aggregations are Spark built-ins (partial+final automatic). Roads
and points are bounded dimensions — broadcast.

Every report is made of a few sums (``_totals``) over the intersection
``results ⋈ points ⋈ roads``: per ``(road_id, highway)`` in
``road_aggregate``, over all rows in ``totals``. Each report is written
once, over that pre-aggregate (``per_road_report``, ``highway_report``)
or over a one-row totals frame (the four ``*_report`` functions); the
row-level functions of the reference's names compose it with its
aggregate. ``cmd_metrics`` stores the pre-aggregate and reads the
totals from the grand-total row of the same aggregate
(``road_aggregate_with_total``): one job answers every report, as in
GeoBlocks' pre-aggregates. Every ratio is ``try_divide``: an
intersection with no image reports NULL, not ``DIVIDE_BY_ZERO``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def build_intersection(
    gvi_points: DataFrame, sample_points: DataFrame, roads: DataFrame
) -> DataFrame:
    """results ⋈ points on id ⋈ roads on road_index — the ``intersection``
    frame of scripts/results_metrics.py:95-100 (both joins inner)."""
    pts = sample_points.select("point_id", "road_id")
    rds = roads.select("road_id", "length", "highway")
    return (
        gvi_points.join(F.broadcast(pts), "point_id")
        .join(F.broadcast(rds), "road_id")
        .select(
            "point_id",
            "road_id",
            "page_url",
            "snap_distance",
            "gvi",
            "is_panoramic",
            "missing",
            "error",
            "length",
            "highway",
        )
    )


def _totals() -> dict[str, Column]:
    """The sums each report is made of, as aggregates over intersection
    rows. ``length_sum`` sums the per-point joined ``length`` (faithful
    to the reference, which sums over the intersection rows, repeating
    each road's length)."""
    image = F.col("page_url") != ""

    def n(flag: Column) -> Column:
        return F.sum(flag.cast("long"))

    return {
        "total_points": F.count(F.lit(1)),
        "gvi_sum": F.sum("gvi"),
        "gvi_n": F.count("gvi"),
        "null_points": n(F.col("gvi").isNull()),
        "unavailable": n(F.col("page_url") == ""),
        "images": n(image),
        "unsuitable": n(F.col("gvi").isNull() & image),
        "usable": n(F.col("gvi").isNotNull() & image),
        "panoramic": n(F.col("is_panoramic")),
        # the reference's ``total_null`` counts points with NON-null
        # image ids (the naming bug documented in SURVEY.md A2) — the
        # computation, not the name, is reproduced
        "with_url": n(F.col("page_url").isNotNull()),
        "length_sum": F.sum("length"),
    }


def _aggregated() -> list[Column]:
    return [c.alias(k) for k, c in _totals().items()]


def road_aggregate(intersection: DataFrame) -> DataFrame:
    """The road-level pre-aggregate: one row per ``(road_id, highway)``
    with the ``_totals`` of its points."""
    return intersection.groupBy("road_id", "highway").agg(*_aggregated())


def road_aggregate_with_total(intersection: DataFrame) -> DataFrame:
    """``road_aggregate`` plus, from the same aggregate (grouping sets),
    one grand-total row (``_total`` true, NULL keys) holding the
    ``totals`` of all rows. Its sums are taken as ``totals`` takes
    them, partial per input partition and merged through the shuffle,
    so they repeat run to run; an observation over the rows would merge
    the partitions' partial double sums in task completion order."""
    return intersection.groupingSets(
        [["road_id", "highway"], []], "road_id", "highway"
    ).agg(*_aggregated(), (F.grouping_id() > 0).alias("_total"))


def grand_total() -> dict[str, Column]:
    """Aggregates over the rows of ``road_aggregate_with_total`` that
    read its grand-total row, for ``materialize`` to observe while it
    stores the road rows."""
    return {k: F.max(F.when(F.col("_total"), F.col(k))) for k in _totals()}


def totals(intersection: DataFrame) -> DataFrame:
    """The one-row totals frame of ``intersection``."""
    return intersection.agg(*_aggregated())


def totals_frame(intersection: DataFrame, values: dict) -> DataFrame:
    """A one-row totals frame holding ``values`` (the observed
    ``grand_total``), typed as ``totals(intersection)``. An empty
    intersection has no grand-total row: its counts (the non-nullable
    totals) are 0 and its sums NULL, as ``totals`` gives. Built from
    pandas, the frame is a local relation: a report over it runs no
    Spark job (a list-backed frame runs one per ``show``)."""
    schema = totals(intersection).schema
    row = {
        f.name: 0 if values[f.name] is None and not f.nullable else values[f.name]
        for f in schema.fields
    }
    return intersection.sparkSession.createDataFrame(
        pd.DataFrame([row], dtype=object), schema
    )


def per_road_report(road_agg: DataFrame) -> DataFrame:
    """groupby(road_index).agg(GVI: mean / null-count / size)
    (scripts/mean_gvi_street.py:40-44) from the pre-aggregate."""
    return road_agg.select(
        "road_id",
        F.try_divide("gvi_sum", "gvi_n").alias("avg_gvi"),
        F.col("null_points").alias("null_points_count"),
        "total_points",
    )


def gvi_per_road(intersection: DataFrame) -> DataFrame:
    """``per_road_report`` over intersection rows, grouped by road only:
    no highway string rides through the join and the shuffle."""
    return per_road_report(intersection.groupBy("road_id").agg(*_aggregated()))


def roads_with_avg_gvi(roads: DataFrame, per_road: DataFrame) -> DataFrame:
    """Left-join aggregates back onto roads (mean_gvi_street.py:47)."""
    return roads.join(per_road, "road_id", "left")


def highway_report(road_agg: DataFrame, t: DataFrame) -> DataFrame:
    """Two-level rollup (results_metrics.py:60-74) from the
    pre-aggregate: per highway, the points with an image id
    (``total_null``) and their share of all points, whose number comes
    from the one-row totals ``t``."""
    # the grand total is a scalar subquery, so the whole metric stays
    # one DAG (no eager .count() driver action); over a local ``t`` it
    # runs no job
    total = t.select(F.col("total_points").cast("double")).scalar()
    return (
        road_agg.groupBy("highway")
        .agg(F.sum("with_url").alias("total_null"))
        .withColumn("proportion_null", F.try_divide("total_null", total))
        .orderBy(F.desc("total_null"))
    )


def unavailable_images_per_highway(intersection: DataFrame) -> DataFrame:
    """``highway_report`` over intersection rows."""
    return highway_report(road_aggregate(intersection), totals(intersection))


def top5_highways(per_highway: DataFrame) -> DataFrame:
    """nlargest(5, total_null) (results_metrics.py:21) —
    TakeOrderedAndProject, no full sort. Ties broken by highway name
    for determinism."""
    return per_highway.orderBy(F.desc("total_null"), F.asc("highway")).limit(5)


def _road_length_km() -> Column:
    return F.col("length_sum") / F.lit(1000.0)


def missing_images_report(t: DataFrame) -> DataFrame:
    """results_metrics.py:107-115 from the totals ``t``."""
    return t.select(
        "unavailable",
        "unsuitable",
        F.col("null_points").alias("total_null"),
        F.try_divide("null_points", "total_points").alias("proportion_null"),
        "total_points",
    )


def panoramic_report(t: DataFrame) -> DataFrame:
    """results_metrics.py:119-124 from the totals ``t``."""
    return t.select(
        F.col("panoramic").alias("panoramic_count"),
        F.col("images").alias("total_images"),
        F.try_divide("panoramic", "images").alias("proportion_panoramic"),
    )


def availability_report(t: DataFrame) -> DataFrame:
    """IAS / AIAS (results_metrics.py:127-133) from the totals ``t``."""
    return t.select(
        F.col("images").alias("gvi_points"),
        _road_length_km().alias("road_length_km"),
        "total_points",
        F.try_divide("images", "total_points").alias("availability_score"),
        F.try_divide(
            F.col("images") * F.log(_road_length_km()), F.col("total_points")
        ).alias("adjusted_availability_score"),
    )


def usability_report(t: DataFrame) -> DataFrame:
    """IUS / AIUS (results_metrics.py:136-143) from the totals ``t``."""
    return t.select(
        F.col("usable").alias("gvi_points"),
        _road_length_km().alias("road_length_km"),
        F.col("images").alias("total_images"),
        F.try_divide("usable", "images").alias("usability_score"),
        F.try_divide(
            F.col("usable") * F.log(_road_length_km()), F.col("images")
        ).alias("adjusted_usability_score"),
    )


def missing_images_metrics(intersection: DataFrame) -> DataFrame:
    """``missing_images_report`` over intersection rows."""
    return missing_images_report(totals(intersection))


def panoramic_images_metrics(intersection: DataFrame) -> DataFrame:
    """``panoramic_report`` over intersection rows."""
    return panoramic_report(totals(intersection))


def availability_score(intersection: DataFrame) -> DataFrame:
    """``availability_report`` over intersection rows."""
    return availability_report(totals(intersection))


def usability_score(intersection: DataFrame) -> DataFrame:
    """``usability_report`` over intersection rows."""
    return usability_report(totals(intersection))
