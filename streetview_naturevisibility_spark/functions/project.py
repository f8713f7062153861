"""CRS transform pandas UDF (reference F2: to_crs(4326) <-> local UTM,
modules/osmnx_road_network.py:92-95, 127-129, 164-165).

Arrow-vectorized NumPy Krüger series (geo/utm.py) — one batch call per
Arrow batch, no per-row Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..geo.utm import utm_to_lonlat

_LL = StructType([StructField("lon", DoubleType()), StructField("lat", DoubleType())])


def make_to_lonlat(zone: int = 31):
    @F.pandas_udf(_LL)
    def to_lonlat(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        lon, lat = utm_to_lonlat(x.to_numpy(), y.to_numpy(), zone)
        return pd.DataFrame({"lon": lon, "lat": lat})

    return to_lonlat
