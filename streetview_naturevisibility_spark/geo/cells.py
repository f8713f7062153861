"""Packed spatial cell ids + neighbor expansion.

The engine's spatial index: every row gets a ``cell_id: bigint`` packed
from (zoom, tile_x, tile_y). Cell ids are the shuffle/partition key for
the kNN snap join and PIP join (reference batches work per mercantile
tile the same way: modules/osmnx_road_network.py:98-115), and the
clustering key a real deployment would use for Iceberg partition
pruning.

Packing: ``cell_id = (z << 58) | (x << 29) | y`` — x,y < 2^29 covers
zooms up to 29; z < 32. Pure integer Column math (codegen), identical
formula available as SQL for the DuckDB oracle.

Neighbor expansion: the kNN candidate set for a point is its cell plus
the 8 surrounding cells (cell edge at z14 ≈ 2.4 km >> 2x the 25 m snap
radius, so one ring is always sufficient — same guarantee the reference
gets implicitly from a global KDTree). ``ring_join`` is the one place
this expansion meets the big side: it explodes the *small* (points)
side to its ring and broadcasts it, so the big table streams through
once, unexploded and unshuffled. Both kNN snaps (square tiles, hex
cells) and the zonal operators (packed meter bins) join this way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_XY_BITS = 29
_Z_SHIFT = 2 * _XY_BITS


_EARTH_CIRCUMFERENCE = 40075016.686


def zoom_for_radius(radius_m: float, lat_deg: float) -> int:
    """Finest zoom whose cell edge at this latitude still covers the
    search radius — the one-ring guarantee (cell >= radius) with the
    tightest candidate sets. Coarser zooms inflate kNN candidate lists
    quadratically; this choice is the #1 throughput lever of the snap
    join."""
    import math

    width = _EARTH_CIRCUMFERENCE * math.cos(math.radians(lat_deg))
    z = int(math.floor(math.log2(width / radius_m)))
    return max(0, min(29, z))


def pack_cell_col(tile_x: Column, tile_y: Column, zoom: int) -> Column:
    """(z, x, y) -> bigint cell id, native expression."""
    return (
        F.lit(int(zoom)).cast("long") * F.lit(1 << _Z_SHIFT).cast("long")
        + tile_x.cast("long") * F.lit(1 << _XY_BITS).cast("long")
        + tile_y.cast("long")
    )


def pack_cell_sql(x_expr: str, y_expr: str, zoom: int) -> str:
    """Identical packing as SQL (DuckDB oracle)."""
    return (
        f"(CAST({int(zoom)} AS BIGINT) * {1 << _Z_SHIFT} "
        f"+ CAST({x_expr} AS BIGINT) * {1 << _XY_BITS} "
        f"+ CAST({y_expr} AS BIGINT))"
    )


def unpack_cell_col(cell_id: Column) -> tuple[Column, Column, Column]:
    """Integer-only unpack (shift + mask): double division would round
    near 2^53 and could mis-extract tile_x by one at deep zooms with
    large tile indices — these stay exact for all 29-bit fields."""
    mask = F.lit((1 << _XY_BITS) - 1).cast("long")
    z = F.shiftrightunsigned(cell_id, _Z_SHIFT)
    x = F.shiftrightunsigned(cell_id, _XY_BITS).bitwiseAND(mask)
    y = cell_id.bitwiseAND(mask)
    return z.cast("int"), x.cast("int"), y.cast("int")


def pack_cell_py(tile_x: int, tile_y: int, zoom: int) -> int:
    return (int(zoom) << _Z_SHIFT) | (int(tile_x) << _XY_BITS) | int(tile_y)


def neighbor_cells_col(tile_x: Column, tile_y: Column, zoom: int) -> Column:
    """Array of the 9 cell ids covering a point's 3x3 tile neighborhood.

    Applied to the POINTS side before the kNN equi-join; tile indices are
    clamped to the zoom's valid range so border tiles don't produce
    phantom cells (duplicates at the border are deduped by
    ``array_distinct``).
    """
    lim = (1 << zoom) - 1
    cells = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            nx = F.least(F.greatest(tile_x + F.lit(dx), F.lit(0)), F.lit(lim))
            ny = F.least(F.greatest(tile_y + F.lit(dy), F.lit(0)), F.lit(lim))
            cells.append(pack_cell_col(nx, ny, zoom))
    return F.array_distinct(F.array(*cells))


def cell_parent_col(cell_id: Column, steps: int = 1) -> Column:
    """Parent cell ``steps`` levels up the quadtree — the hierarchical
    rollup of an S2/H3-style index (XYZ z-cells form a quadtree: parent
    = (z-1, x>>1, y>>1)). Pure integer Column math, so multi-resolution
    aggregations (per-neighborhood -> per-city -> per-region) are
    cascading codegen groupBys with no re-tiling."""
    z, x, y = unpack_cell_col(cell_id)
    nz = z - F.lit(steps)
    # integer shifts: exact for every 29-bit tile index (a double
    # floor-div rounds near 2^53)
    nx = F.shiftrightunsigned(x.cast("long"), steps)
    ny = F.shiftrightunsigned(y.cast("long"), steps)
    return (
        nz.cast("long") * F.lit(1 << _Z_SHIFT).cast("long")
        + nx * F.lit(1 << _XY_BITS).cast("long")
        + ny
    )


def cell_children_py(cell_id: int) -> list[int]:
    """The 4 child cells one level down (driver-side helper for
    polyfill-style expansions)."""
    z = cell_id >> _Z_SHIFT
    rem = cell_id - (z << _Z_SHIFT)
    x = rem >> _XY_BITS
    y = rem - (x << _XY_BITS)
    out = []
    for dx in (0, 1):
        for dy in (0, 1):
            out.append(pack_cell_py(2 * x + dx, 2 * y + dy, z + 1))
    return out


def with_cell(df: DataFrame, lon: str = "lon", lat: str = "lat", zoom: int = 14) -> DataFrame:
    """Attach tile_x/tile_y/cell_id columns (pure codegen, no shuffle)."""
    from .mercator import tile_x_col, tile_y_col

    return (
        df.withColumn("tile_x", tile_x_col(F.col(lon), zoom))
        .withColumn("tile_y", tile_y_col(F.col(lat), zoom))
        .withColumn("cell_id", pack_cell_col(F.col("tile_x"), F.col("tile_y"), zoom))
    )


def ring_join(points: DataFrame, ring: Column, big: DataFrame, cell: Column) -> DataFrame:
    """Cell-pruned candidate join: every ``big`` row paired with every
    point whose ``ring`` holds the one ``cell`` the row lies in.

    ``points(point_id, x, y)`` is exploded to its ``ring`` (an array of
    packed cell ids, a Column over ``points``) and broadcast; ``cell``
    (a bigint Column over ``big``) is the hash key the big side streams
    through once, unshuffled. Returns ``big``'s columns plus
    ``point_id``, ``_px`` and ``_py``. The ring must contain every cell
    within the caller's distance bound; the caller filters on distance.
    """
    side = F.broadcast(
        points.select(
            "point_id",
            F.col("x").alias("_px"),
            F.col("y").alias("_py"),
            F.explode(ring).alias("_cell"),
        )
    )
    return big.withColumn("_cell", cell).join(side, "_cell").drop("_cell")
