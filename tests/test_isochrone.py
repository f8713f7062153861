"""Isochrone union (F6) vs an independent brute-force oracle."""

import numpy as np
import pytest

from tests.oracle import oracle_isochrone_cells as _oracle_iso
from streetview_naturevisibility_spark.operators.isochrone import (
    isochrone_area,
    isochrone_cells,
)


NODES = [
    (0, 0.0, 0.0),
    (1, 200.0, 0.0),
    (2, 200.0, 200.0),
    (3, 0.0, 200.0),
    (4, 400.0, 0.0),
    (5, 1200.0, 0.0),  # far: outside buffer_dist from poi 0's component walk
]
EDGES = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 4), (4, 5)]
POIS = [(10, 10.0, -5.0), (11, 390.0, 20.0)]


class TestIsochrone:
    @pytest.fixture(scope="class")
    def frames(self, spark):
        nodes = spark.createDataFrame(NODES, "node_id: long, x: double, y: double")
        edges = spark.createDataFrame(EDGES, "u: long, v: long")
        pois = spark.createDataFrame(POIS, "poi_id: long, x: double, y: double")
        return pois, nodes, edges

    def test_matches_bruteforce_oracle(self, spark, frames):
        pois, nodes, edges = frames
        got = isochrone_cells(
            pois, nodes, edges, buffer_dist=500.0, edge_buff=25.0, grid=10.0
        ).toPandas()
        truth = _oracle_iso(POIS, NODES, EDGES, 500.0, 25.0, 10.0)
        for pid in (10, 11):
            g = {
                (r.gx, r.gy)
                for r in got[got.poi_id == pid].itertuples()
            }
            assert g == truth[pid], f"poi {pid}: {len(g)} vs {len(truth[pid])}"

    def test_hole_filling(self, spark, frames):
        """The square loop 0-1-2-3 encloses a region farther than
        edge_buff from every edge; Polygon(exterior) semantics fill it."""
        pois, nodes, edges = frames
        got = isochrone_cells(
            pois, nodes, edges, buffer_dist=500.0, edge_buff=25.0, grid=10.0
        ).toPandas()
        cells = {(r.gx, r.gy) for r in got[got.poi_id == 10].itertuples()}
        # center of the loop: (100, 100) -> cell (9..10, 9..10), ~70 m
        # from every edge, present only because the hole is filled
        assert (9, 9) in cells and (10, 10) in cells

    def test_ego_graph_bound(self, spark, frames):
        """Node 5 sits 1000 m beyond node 4 — past buffer_dist for poi
        10 (shortest path 400 + 800? no: 0->1=200, 1->4=200, 4->5=800 >
        500 total), so the 4-5 edge must not contribute cells."""
        pois, nodes, edges = frames
        got = isochrone_cells(
            pois, nodes, edges, buffer_dist=500.0, edge_buff=25.0, grid=10.0
        ).toPandas()
        cells = got[got.poi_id == 10]
        assert cells.gx.max() <= np.ceil((400.0 + 25.0) / 10.0)

    def test_area_rollup(self, spark, frames):
        pois, nodes, edges = frames
        iso = isochrone_cells(
            pois, nodes, edges, buffer_dist=500.0, edge_buff=25.0, grid=10.0
        )
        area = isochrone_area(iso, grid=10.0).toPandas().set_index("poi_id")
        truth = _oracle_iso(POIS, NODES, EDGES, 500.0, 25.0, 10.0)
        for pid in (10, 11):
            assert area.loc[pid, "n_cells"] == len(truth[pid])
            assert area.loc[pid, "area_m2"] == pytest.approx(len(truth[pid]) * 100.0)
