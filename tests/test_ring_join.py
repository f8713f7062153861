"""Plan shape of ``geo.cells.ring_join`` for each ring kind the package
uses: square tiles (``knn_snap``), hex cells (``knn_snap_hex``) and
packed meter bins (the zonal operators). With AQE off, each is one
broadcast hash join on a single bigint key, whose one
``BroadcastExchange`` carries the exploded ring and whose big side
streams from its scan with no ``Exchange``."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from streetview_naturevisibility_spark.geo.cells import (
    neighbor_cells_col,
    pack_cell_col,
    ring_join,
)
from streetview_naturevisibility_spark.geo.hexgrid import hex_neighbors_col, make_hex_cell_udf
from streetview_naturevisibility_spark.operators import zonal
from tools.explain_audit import aqe_off, ring_join_shape


def _frames(spark):
    rng = np.random.RandomState(0)
    pts = pd.DataFrame(
        {"point_id": np.arange(20), "x": rng.uniform(-500, 500, 20), "y": rng.uniform(-500, 500, 20)}
    )
    big = pd.DataFrame({"x": rng.uniform(-500, 500, 400), "y": rng.uniform(-500, 500, 400)})
    for df in (pts, big):
        df["tile_x"] = np.floor(df["x"] / 100).astype(np.int64) + 10
        df["tile_y"] = np.floor(df["y"] / 100).astype(np.int64) + 10
    points = spark.createDataFrame(pts)
    big = spark.createDataFrame(big)
    return points, big.withColumn("cell_id", pack_cell_col(F.col("tile_x"), F.col("tile_y"), 5))


def _join(kind, points, big):
    """(the ring join, its big side) as each operator builds it."""
    if kind == "tile":
        ring = neighbor_cells_col(F.col("tile_x"), F.col("tile_y"), 5)
        return ring_join(points, ring, big, F.col("cell_id")), big
    if kind == "hex":
        hex_cell = make_hex_cell_udf(100.0)
        ring = hex_neighbors_col(hex_cell(F.col("x"), F.col("y")))
        return ring_join(points, ring, big, hex_cell(F.col("x"), F.col("y"))), big
    grid = big.select(F.col("x").alias("cx"), F.col("y").alias("cy"))
    return zonal._candidates(points, grid, 100.0), grid


@pytest.mark.parametrize("kind", ["tile", "hex", "packed_bin"])
def test_ring_join_broadcasts_the_ring_once_on_one_bigint(spark, kind):
    points, big = _frames(spark)
    with aqe_off(spark):
        joined, big_side = _join(kind, points, big)
        ok, notes = ring_join_shape(joined._jdf.queryExecution().executedPlan())
    assert ok, notes
    assert joined.columns == big_side.columns + ["point_id", "_px", "_py"]
