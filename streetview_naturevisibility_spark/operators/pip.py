"""Point-in-polygon flag (J6) — city boundary membership.

Reference analog: the boundary containment check
(modules/availability.py:202-218). Membership is vectorized ray casting
(geo/polygon.points_in_polygon) in an Arrow pandas UDF; the polygon is
a bounded dimension and rides in the UDF closure, so the big
points/pages side is never shuffled.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..geo.polygon import parse_wkt_coords, points_in_polygon


def make_pip_flag_udf(polygon_wkt: str):
    """Boolean column: point (x,y) inside one fixed polygon (broadcast
    via closure). Used for single-boundary filters."""
    coords = parse_wkt_coords(polygon_wkt)

    @F.pandas_udf(BooleanType())
    def inside(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(points_in_polygon(x.to_numpy(), y.to_numpy(), coords))

    return inside
