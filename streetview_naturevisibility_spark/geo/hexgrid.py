"""Hexagonal multi-resolution cell index — the engine's H3-analog
(SURVEY.md J2 "H3 variant via pandas UDF"; reference tiles per
mercantile XYZ square, modules/osmnx_road_network.py:90-101).

The real ``h3`` library is not installed in this environment, so the
index is a from-scratch pointy-top axial hex grid over the engine's
planar meter space with the same *semantics* H3 gives a pipeline:

- hexagonal cells (uniform neighbor distance — the property squares
  lack and the reason H3 exists),
- k-ring neighborhoods (``kring_py`` / ``hex_neighbors_col``),
- a packed 64-bit cell id usable as a shuffle/partition key.

Geometry (pointy-top, circumradius ``size`` meters):
  axial q = (sqrt(3)/3 * x - 1/3 * y) / size
  axial r = (2/3 * y) / size
  cube-round (q, r, s=-q-r) to the nearest hex center, fixing the
  coordinate with the largest rounding error so q+r+s == 0.

Packing is LINEAR in (q, r): ``cell = (q+OFF)*2^26 + (r+OFF)`` — so the
6 axial neighbor offsets are plain integer adds on the packed id and
the snap join's ring expansion is pure whole-stage-codegen Column math
(no UDF on the hot side).

One-ring guarantee for the kNN snap: cells at hex distance >= 2 are at
least ``size`` meters from every point of the center cell (min center
distance 3*size minus two circumradii), so with ``size >= snap
radius`` the 7-cell ring provably contains every candidate — the hex
twin of geo/cells.zoom_for_radius.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

_OFF = 1 << 25
_QSHIFT = 1 << 26
_SQRT3 = float(np.sqrt(3.0))

# axial neighbor offsets (pointy-top), E, NE, NW, W, SW, SE
NEIGHBOR_OFFSETS = [(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)]


def _axial_frac(x: np.ndarray, y: np.ndarray, size: float) -> tuple[np.ndarray, np.ndarray]:
    qf = (_SQRT3 / 3.0 * x - y / 3.0) / size
    rf = (2.0 / 3.0 * y) / size
    return qf, rf


def _half_up(a: np.ndarray) -> np.ndarray:
    """round-half-UP (floor(a + 0.5)) — the one rounding form that is
    cheap to state identically in NumPy and in the DuckDB oracle SQL
    (np.round is half-to-even, DuckDB round() is half-away-from-zero;
    lattice-aligned inputs land exactly on .5 boundaries, so the
    convention must match bit-for-bit across both twins)."""
    return np.floor(a + 0.5)


def _cube_round(qf: np.ndarray, rf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    sf = -qf - rf
    q = _half_up(qf)
    r = _half_up(rf)
    s = _half_up(sf)
    dq = np.abs(q - qf)
    dr = np.abs(r - rf)
    ds = np.abs(s - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    q = np.where(fix_q, -r - s, q)
    r = np.where(fix_r, -q - s, r)
    return q.astype(np.int64), r.astype(np.int64)


def pack_hex_py(q: int, r: int) -> int:
    return (int(q) + _OFF) * _QSHIFT + (int(r) + _OFF)


def unpack_hex_py(cell: int) -> tuple[int, int]:
    return (cell >> 26) - _OFF, (cell & (_QSHIFT - 1)) - _OFF


def hex_cell_np(x: np.ndarray, y: np.ndarray, size: float) -> np.ndarray:
    """Vectorized (x, y) meters -> packed hex cell id."""
    q, r = _cube_round(*_axial_frac(np.asarray(x, np.float64), np.asarray(y, np.float64), size))
    return (q + _OFF) * _QSHIFT + (r + _OFF)


def make_hex_cell_udf(size: float):
    """The SURVEY-mandated pandas-UDF form: one NumPy pass per Arrow
    batch (the shape a real h3.latlng_to_cell wrapper would take)."""

    @F.pandas_udf(LongType())
    def hex_cell(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(hex_cell_np(x.to_numpy(), y.to_numpy(), size))

    return hex_cell


def hex_cell_sql_ctes(
    src: str, key: str, x_expr: str, y_expr: str, size: float
) -> str:
    """DuckDB oracle twin of ``hex_cell_np`` as two CTEs: ``hx`` holds
    the fractional axial coords + naive rounds, ``hexcell`` the
    corrected packed id per ``key`` row of ``src``. The r-correction
    may read the UNcorrected q0 because fix_r implies fix_q is false
    (same shortcut as the NumPy kernel's where-chain). Rounding is
    floor(v + 0.5) — half-UP — in BOTH twins (``_half_up`` in the NumPy
    kernel), so even lattice-aligned inputs that land exactly on .5
    cell boundaries assign identically across engines."""
    qf = f"(({_SQRT3!r} / 3.0 * ({x_expr}) - ({y_expr}) / 3.0) / {size!r})"
    rf = f"((2.0 / 3.0 * ({y_expr})) / {size!r})"
    return f"""
hx AS (
  SELECT {key}, qf, rf, -qf - rf AS sf,
         floor(qf + 0.5) AS q0, floor(rf + 0.5) AS r0, floor(-qf - rf + 0.5) AS s0
  FROM (SELECT {key}, {qf} AS qf, {rf} AS rf FROM {src})
),
hexcell AS (
  SELECT {key},
         CAST((CASE WHEN abs(q0 - qf) > abs(r0 - rf) AND abs(q0 - qf) > abs(s0 - sf)
                    THEN -r0 - s0 ELSE q0 END + {_OFF}) * {_QSHIFT}
              + (CASE WHEN NOT (abs(q0 - qf) > abs(r0 - rf) AND abs(q0 - qf) > abs(s0 - sf))
                           AND abs(r0 - rf) > abs(s0 - sf)
                      THEN -q0 - s0 ELSE r0 END + {_OFF}) AS BIGINT) AS hex_cell
  FROM hx
)"""


def hex_neighbors_col(cell: Column) -> Column:
    """The 7-cell ring (cell + 6 axial neighbors) as pure Column adds —
    packing is linear in (q, r), so neighbor ids are constant offsets.
    Applied to the bounded points side of the snap join; the big pages
    side carries one un-exploded cell id."""
    cells = [cell] + [
        cell + F.lit(dq * _QSHIFT + dr) for dq, dr in NEIGHBOR_OFFSETS
    ]
    return F.array(*cells)


def kring_py(cell: int, k: int) -> list[int]:
    """All cells within hex distance k (driver-side helper)."""
    q0, r0 = unpack_hex_py(cell)
    out = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            out.append(pack_hex_py(q0 + dq, r0 + dr))
    return out


def hex_distance_py(a: int, b: int) -> int:
    """Hex (cube) distance between two cells."""
    qa, ra = unpack_hex_py(a)
    qb, rb = unpack_hex_py(b)
    return int((abs(qa - qb) + abs(ra - rb) + abs((-qa - ra) - (-qb - rb))) // 2)
