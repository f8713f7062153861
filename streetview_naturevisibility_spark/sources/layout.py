"""Physical table layout for 100 TB pages tables: Z-order (Morton)
clustering for data skipping.

At 100 TB, the dominant cost of a bbox/tile query is the SCAN — and
parquet can skip whole files/row-groups when each file's min/max
column statistics are tight. Rows written in arrival order scatter
every tile across every file (stats span the world -> zero skipping).
Writing sorted by the MORTON code of (tile_x, tile_y) places
spatially-near tiles in the same files, so:

- per-file min/max of tile_x AND tile_y become tight rectangles ->
  Spark's parquet filter pushdown (StartsWith/GreaterThan on the
  pushed predicates) skips files for free on any bbox query, with no
  engine-specific index;
- `repartitionByRange(morton)` gives files DISJOINT morton ranges, so
  a morton-interval predicate prunes deterministically.

The morton encode is pure Column bit algebra (whole-stage codegen, no
UDF): the classic mask-spread in 5 shift-or-mask steps per axis.

Reference: the reference engine loads everything into GeoPandas
memory (modules/osmnx_road_network.py) and has no layout concept —
this module exists for the 10^12-page scale target.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# magic masks for 16-bit -> 32-bit bit spreading (x | x<<8 ... pattern)
_SPREAD_STEPS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread_bits16(c: Column) -> Column:
    """Spread the low 16 bits of ``c`` so bit i lands at position 2i
    (classic morton magic-number spread, as Column expressions)."""
    out = c.cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD_STEPS:
        out = (out.bitwiseOR(F.shiftleft(out, shift))).bitwiseAND(F.lit(mask))
    return out


def morton_col(x: Column, y: Column) -> Column:
    """Interleave two 16-bit tile coordinates into a 32-bit Z-order
    code (x in even bits, y in odd). Pure codegen — usable in filters,
    sorts and range partitioning. Tile coords at zoom <= 16 fit 16
    bits; for deeper zooms split into two mortons or widen the masks."""
    return _spread_bits16(x).bitwiseOR(F.shiftleft(_spread_bits16(y), 1))


def morton_scalar(x: int, y: int) -> int:
    """Driver-side twin of morton_col (for computing query bounds)."""

    def spread(v: int) -> int:
        v &= 0xFFFF
        for shift, mask in _SPREAD_STEPS:
            v = (v | (v << shift)) & mask
        return v

    return spread(x) | (spread(y) << 1)


def write_spatial_sorted(
    df: DataFrame,
    path: str,
    x_col: str = "tile_x",
    y_col: str = "tile_y",
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet clustered by Z-order of (x_col, y_col):
    range-partitioned on the morton code (disjoint per-file ranges)
    and sorted within each file (tight row-group stats). The `_morton`
    column is kept in the output — it is the file-pruning key.

    ``num_files`` defaults to the current parallelism; at scale size
    it to ~target_file_bytes (e.g. total/512MB)."""
    out = df.withColumn("_morton", morton_col(F.col(x_col), F.col(y_col)))
    n = num_files or out.sparkSession.sparkContext.defaultParallelism
    (
        out.repartitionByRange(n, "_morton")
        .sortWithinPartitions("_morton")
        .write.mode(mode)
        .parquet(path)
    )


def bbox_morton_interval(
    tx_min: int, tx_max: int, ty_min: int, ty_max: int
) -> tuple[int, int]:
    """Conservative [lo, hi] morton interval covering a tile bbox: the
    Z-curve visits every cell of the bbox within the interval of its
    corner codes (the interval over-covers — combine with the exact
    tile predicates; the interval does the FILE pruning, the exact
    predicate the row filtering)."""
    return morton_scalar(tx_min, ty_min), morton_scalar(tx_max, ty_max)
