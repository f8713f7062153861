"""Cell-pruned kNN snap join — THE core operator.

Reference semantics (modules/osmnx_road_network.py:131-154): for every
sample point, the nearest page/feature point with k=1 and
``distance_upper_bound = max_distance/2`` (default 25 m) over a global
cKDTree; misses keep the point with ``image_id == ""`` (empty string,
NOT null), ``distance = None``, and ``is_panoramic`` None -> False
(astype(bool) coercion, line 154).

Engine plan (Spark-first, 100 TB-ready):

1. Points (bounded side, ~1e6 rows max) are exploded to their 3x3
   neighbor cells (``knn_snap``) or 7-cell hex ring (``knn_snap_hex``)
   — cell edge at z14 (~2.4 km at 52°N) >> 2x the 25 m radius, so one
   ring provably contains every candidate within bound.
2. ``geo.cells.ring_join``: ``pages JOIN broadcast(points_exploded) ON
   cell`` — the 100 TB pages table is **never shuffled**: broadcast
   hash join streams it once, and Catalyst pushes the cell-id
   computation into the scan stage. The two snaps differ only in their
   (ring, cell) pair; ``_snap`` holds everything else.
3. Planar distance filter ``dist < bound`` prunes immediately (strict,
   matching cKDTree's open ``distance_upper_bound``).
4. k=1 reduce as ``groupBy(point_id).agg(min(struct(dist, url, ...)))``
   — struct ordering gives (distance, url) total-order tie-breaking and,
   crucially, **partial (map-side) aggregation**: a hot urban cell with
   millions of pages is reduced inside each input partition before the
   single bounded shuffle by point_id. This is the explicit skew
   strategy (SURVEY.md §4.2.2): no salting pre-reduce is needed, the
   adversarial single-hot-cell test pins it.
5. Left join back onto points restores miss rows with the reference's
   exact sentinel semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..geo.cells import neighbor_cells_col, ring_join
from ..session import materialize


def knn_snap(
    points: DataFrame,
    pages: DataFrame,
    max_distance: float = 50.0,
    zoom: int = 14,
    key_col: str = "url",
    reduce: str = "two_phase",
) -> DataFrame:
    """Snap each point to its nearest page within ``max_distance/2``
    (strictly: cKDTree's ``distance_upper_bound`` accepts only
    distances < bound, osmnx_road_network.py:137 — mirrored here).

    ``points`` needs (point_id, x, y, tile_x, tile_y); ``pages`` needs
    (key_col, x, y, is_panoramic, cell_id). x/y must be planar meters in
    the same system on both sides (UTM or equirectangular).

    ``key_col`` is the page key carried through the k=1 reduce and the
    tie-breaker after distance. At 100 TB scale pass a NUMERIC key
    (e.g. a 64-bit doc id): a string key allocates one heap string per
    candidate pair inside the partial-aggregation buffers, and the GC
    pressure turns the reduce superlinear (measured: 2.4M pages/s with a
    long key vs 0.9M with url strings at 64M pages). Resolve the url by
    one bounded join on the snapped output instead.

    Returns points + (page_url, snap_distance, is_panoramic) with
    reference miss semantics: ('' / null-key, null, false).
    """
    ring = neighbor_cells_col(F.col("tile_x"), F.col("tile_y"), zoom)
    return _snap(points, pages, ring, F.col("cell_id"), max_distance / 2.0, key_col, reduce)


def _snap(
    points: DataFrame,
    pages: DataFrame,
    ring: Column,
    cell: Column,
    bound: float,
    key_col: str,
    reduce: str,
) -> DataFrame:
    """The one snap body under both cell kinds: ring-join candidates,
    strict distance filter, k=1 reduce and miss-preserving join-back.
    ``ring`` is a Column over ``points``, ``cell`` one over ``pages``."""
    key_is_string = dict(pages.dtypes)[key_col] == "string"
    dist = F.sqrt(
        (F.col("_px") - F.col("x")) * (F.col("_px") - F.col("x"))
        + (F.col("_py") - F.col("y")) * (F.col("_py") - F.col("y"))
    )
    cand = (
        ring_join(points, ring, pages, cell)
        .withColumn("_dist", dist)
        # strict <: cKDTree's distance_upper_bound is an open bound
        .where(F.col("_dist") < F.lit(bound))
        .select(
            "point_id",
            "_dist",
            F.col(key_col).alias("_url"),
            F.col("is_panoramic").alias("_pano"),
        )
    )
    best_struct = F.struct(
        F.col("_dist").alias("dist"),
        F.col("_url").alias("url"),
        F.col("_pano").alias("pano"),
    )
    if reduce == "two_phase":
        # The DEFAULT reduce, in two phases:
        # (1) min(dist) per point — pure primitive, hash partial+final;
        # (2) min(struct) tie-break only over rows matching the winning
        #     distance (>=1 per point, ~1 in practice).
        # Rationale: the single-phase min(struct) (the "sort_exact"
        # branch below) has no mutable primitive buffer, so Spark runs
        # it as SortAggregate — a per-partition sort of ALL candidates.
        # Measured (r2, local[32]): on an adversarial hot cell (4M
        # pages + 50 points in ONE z14 cell, 250 m bound -> ~200M
        # candidate pairs) two_phase runs 32.6 s vs sort_exact 83.8 s
        # (2.6x); on SPARSE candidates the ranking flips (1.7 s vs
        # 3.4 s at 8M uniformly-spread pages) because materializing the
        # candidate set adds a constant job boundary — callers with
        # provably sparse candidates may pass reduce="sort_exact".
        #
        # Lifecycle: the candidate set is materialized so the pages scan
        # runs exactly once across the two phases, and the (small,
        # winners-only) ``best`` frame is materialized to cut the
        # lineage back to cand — repeated snaps in one long-lived
        # session leave the CacheManager empty (pytest-asserted in
        # tests/test_knn.py). Note this makes the snap compute at CALL
        # time rather than first-action time.
        cand, _ = materialize(cand)
        md = cand.groupBy("point_id").agg(F.min("_dist").alias("_md"))
        best = (
            cand.join(F.broadcast(md), "point_id")
            .where(F.col("_dist") == F.col("_md"))
            .groupBy("point_id")
            .agg(F.min(best_struct).alias("best"))
        )
        best, _ = materialize(best)
    else:
        best = cand.groupBy("point_id").agg(F.min(best_struct).alias("best"))

    out = points.join(F.broadcast(best), "point_id", "left")
    # reference miss semantics: image_id == "" (empty string, NOT null,
    # osmnx_road_network.py:150) for string keys; null for numeric keys
    miss_key = F.lit("") if key_is_string else F.lit(None)
    out_key = "page_url" if key_is_string else f"page_{key_col}"
    return (
        out.withColumn(out_key, F.coalesce(F.col("best.url"), miss_key))
        .withColumn("snap_distance", F.col("best.dist"))
        # reference: is_panoramic astype(bool) maps None -> False
        .withColumn("is_panoramic", F.coalesce(F.col("best.pano"), F.lit(False)))
        .drop("best")
    )


def knn_snap_hex(
    points: DataFrame,
    pages: DataFrame,
    max_distance: float = 50.0,
    hex_size: float | None = None,
    key_col: str = "url",
    reduce: str = "two_phase",
) -> DataFrame:
    """The hex-index variant of ``knn_snap`` (SURVEY J2 H3 variant):
    identical semantics and output, candidate pruning via the 7-cell
    hex ring instead of the 3x3 square ring.

    Both sides get a packed hex cell from (x, y) — pages via the
    vectorized pandas UDF once per row (the shape an h3.latlng_to_cell
    wrapper takes), points exploded to cell + 6 neighbors by PURE
    Column adds (packing is linear in the axial coords). One-ring
    containment holds when ``hex_size >= max_distance/2`` (see
    geo/hexgrid docstring); the default pins hex_size to the bound.
    """
    from ..geo.hexgrid import hex_neighbors_col, make_hex_cell_udf

    bound = max_distance / 2.0
    size = hex_size if hex_size is not None else bound
    if size < bound:
        raise ValueError("hex_size must cover the snap bound (one-ring guarantee)")
    cell = make_hex_cell_udf(size)(F.col("x"), F.col("y"))
    return _snap(points, pages, hex_neighbors_col(cell), cell, bound, key_col, reduce)
