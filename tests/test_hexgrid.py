"""Hex cell index: geometry invariants, SQL/NumPy twins, ring
containment, and snap-join equivalence with the square-cell path."""

import duckdb
import numpy as np
from pyspark.sql import functions as F

from streetview_naturevisibility_spark.geo.hexgrid import (
    hex_cell_np,
    hex_cell_sql_ctes,
    hex_distance_py,
    hex_neighbors_col,
    kring_py,
    make_hex_cell_udf,
    pack_hex_py,
    unpack_hex_py,
)


class TestHexKernel:
    def test_pack_roundtrip(self):
        for q, r in [(0, 0), (5, -3), (-1000, 999), (32000, -32000)]:
            assert unpack_hex_py(pack_hex_py(q, r)) == (q, r)

    def test_centers_map_to_their_own_cell(self):
        size = 40.0
        rng = np.random.RandomState(1)
        q = rng.randint(-500, 500, 200)
        r = rng.randint(-500, 500, 200)
        cx = size * (np.sqrt(3.0) * q + np.sqrt(3.0) / 2.0 * r)
        cy = size * 1.5 * r
        cells = hex_cell_np(cx, cy, size)
        expect = (q + (1 << 25)) * (1 << 26) + (r + (1 << 25))
        assert (cells == expect).all()

    def test_nearest_center_property(self):
        """Every point maps to the hex whose center is nearest —
        the defining property of cube rounding."""
        size = 25.0
        rng = np.random.RandomState(2)
        xs = rng.uniform(-2000, 2000, 500)
        ys = rng.uniform(-2000, 2000, 500)
        cells = hex_cell_np(xs, ys, size)
        for x, y, c in zip(xs, ys, cells):
            q0, r0 = unpack_hex_py(int(c))
            own = _center(q0, r0, size)
            d_own = np.hypot(x - own[0], y - own[1])
            for nq, nr in [(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)]:
                nx, ny = _center(q0 + nq, r0 + nr, size)
                assert d_own <= np.hypot(x - nx, y - ny) + 1e-9

    def test_sql_twin_matches_numpy(self, spark):
        size = 33.0
        rng = np.random.RandomState(3)
        xs = rng.uniform(-5000, 5000, 1000)
        ys = rng.uniform(-5000, 5000, 1000)
        expect = hex_cell_np(xs, ys, size)
        con = duckdb.connect()
        con.execute("CREATE TABLE pts (k INTEGER, x DOUBLE, y DOUBLE)")
        con.executemany(
            "INSERT INTO pts VALUES (?, ?, ?)",
            [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(xs, ys))],
        )
        sql = (
            "WITH "
            + hex_cell_sql_ctes("pts", "k", "x", "y", size).strip()
            + "\nSELECT hex_cell FROM hexcell ORDER BY k"
        )
        got = np.array([r[0] for r in con.execute(sql).fetchall()])
        assert (got == expect).all()

    def test_udf_matches_numpy(self, spark):
        size = 28.0
        rng = np.random.RandomState(4)
        pdf = np.column_stack([rng.uniform(-999, 999, 300), rng.uniform(-999, 999, 300)])
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in pdf], "x: double, y: double"
        )
        got = df.select(make_hex_cell_udf(size)(F.col("x"), F.col("y")).alias("c")).toPandas()
        assert (got["c"].to_numpy() == hex_cell_np(pdf[:, 0], pdf[:, 1], size)).all()


def _center(q, r, size):
    return size * (np.sqrt(3.0) * q + np.sqrt(3.0) / 2.0 * r), size * 1.5 * r


class TestRings:
    def test_kring_counts_and_distance(self):
        c = pack_hex_py(10, -4)
        for k in (1, 2, 3):
            ring = kring_py(c, k)
            assert len(ring) == 1 + 3 * k * (k + 1)
            assert all(hex_distance_py(c, x) <= k for x in ring)

    def test_neighbors_col_is_kring1(self, spark):
        c = pack_hex_py(3, 7)
        df = spark.createDataFrame([(c,)], "cell: long")
        got = sorted(
            df.select(F.explode(hex_neighbors_col(F.col("cell"))).alias("n"))
            .toPandas()["n"]
            .tolist()
        )
        assert got == sorted(kring_py(c, 1))

    def test_one_ring_containment_for_snap(self):
        """Any two points within `size` meters land in hex cells at
        most one ring apart — the snap join's pruning guarantee."""
        size = 30.0
        rng = np.random.RandomState(5)
        px = rng.uniform(-1000, 1000, 2000)
        py = rng.uniform(-1000, 1000, 2000)
        ang = rng.uniform(0, 2 * np.pi, 2000)
        rad = rng.uniform(0, size * 0.999, 2000)
        qx, qy = px + rad * np.cos(ang), py + rad * np.sin(ang)
        ca = hex_cell_np(px, py, size)
        cb = hex_cell_np(qx, qy, size)
        dists = [hex_distance_py(int(a), int(b)) for a, b in zip(ca, cb)]
        assert max(dists) <= 1


class TestHexSnap:
    def test_hex_snap_equals_square_snap(self, spark, fixture_dir):
        """Same radius, same pages, same points: the hex-pruned snap
        must produce the identical assignment rows as the square-cell
        snap (both prune exactly, reduce exactly)."""
        import os

        from streetview_naturevisibility_spark.operators.knn import (
            knn_snap,
            knn_snap_hex,
        )
        from streetview_naturevisibility_spark.operators.sampling import sample_points
        from streetview_naturevisibility_spark.operators.tiling import prepare_pages

        roads = spark.read.parquet(os.path.join(fixture_dir, "roads.parquet"))
        points = sample_points(roads, spacing=50)
        raw = spark.read.parquet(
            os.path.join(fixture_dir, "web_pages.parquet")
        ).drop("lon", "lat")
        pages = prepare_pages(raw, keep_text=False)
        sq_df = knn_snap(points, pages, max_distance=50.0)
        hx_df = knn_snap_hex(points, pages, max_distance=50.0)
        # one output schema: no hex cell column leaks out of the ring
        assert hx_df.columns == sq_df.columns
        cols = ["point_id", "page_url", "snap_distance", "is_panoramic"]
        sq = sq_df.orderBy("point_id").select(*cols).toPandas()
        hx = hx_df.orderBy("point_id").select(*cols).toPandas()
        assert (sq["point_id"] == hx["point_id"]).all()
        assert (sq["page_url"] == hx["page_url"]).all()
        a = sq["snap_distance"].to_numpy(float)
        b = hx["snap_distance"].to_numpy(float)
        assert (np.isnan(a) == np.isnan(b)).all()
        assert np.allclose(a[~np.isnan(a)], b[~np.isnan(b)])
