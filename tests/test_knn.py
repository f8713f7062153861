"""kNN snap join vs brute-force oracle (reference J1 semantics)."""

import os

import numpy as np
import pandas as pd
import pytest

from streetview_naturevisibility_spark.fixtures.generate import gen_roads, gen_web_pages
from streetview_naturevisibility_spark.operators.knn import knn_snap
from streetview_naturevisibility_spark.operators.sampling import sample_points
from streetview_naturevisibility_spark.operators.tiling import prepare_pages
from tests.oracle import oracle_knn_snap, oracle_sample_points
from streetview_naturevisibility_spark.geo.mercator import tile_xy_np
from streetview_naturevisibility_spark.geo.utm import lonlat_to_utm


def _pages_pd_with_xy() -> pd.DataFrame:
    pages = gen_web_pages(500)
    x, y = lonlat_to_utm(pages["lon"].to_numpy(), pages["lat"].to_numpy(), 31)
    pages = pages.assign(x=x, y=y)
    return pages


@pytest.fixture(scope="module")
def snapped(spark, fixture_dir):
    roads = spark.read.parquet(os.path.join(fixture_dir, "roads.parquet"))
    pages_raw = spark.read.parquet(os.path.join(fixture_dir, "web_pages.parquet"))
    points = sample_points(roads, spacing=50)
    pages = prepare_pages(pages_raw.drop("lon", "lat"), keep_text=False)
    return knn_snap(points, pages, max_distance=50.0).orderBy("point_id").toPandas()


@pytest.fixture(scope="module")
def expected(fixture_dir):
    points = oracle_sample_points(gen_roads(60), spacing=50)
    pages = _pages_pd_with_xy()
    return oracle_knn_snap(points, pages, max_distance=50.0)


class TestKnnSnap:
    def test_matches_bruteforce_oracle(self, snapped, expected):
        assert len(snapped) == len(expected)
        assert (snapped["page_url"].to_numpy() == expected["page_url"].to_numpy()).all()
        got_d = snapped["snap_distance"].to_numpy(dtype=float)
        exp_d = expected["snap_distance"].to_numpy(dtype=float)
        both = ~np.isnan(exp_d)
        assert (np.isnan(got_d) == np.isnan(exp_d)).all()
        # pages coords go through html-text round-trip (1e-7 deg) -> ~1cm
        assert np.abs(got_d[both] - exp_d[both]).max() < 0.05
        assert (snapped["is_panoramic"].to_numpy() == expected["is_panoramic"].to_numpy()).all()

    def test_miss_semantics(self, snapped):
        misses = snapped[snapped["page_url"] == ""]
        assert len(misses) > 0  # fixture guarantees empty cells
        assert misses["snap_distance"].isnull().all()
        assert (~misses["is_panoramic"]).all()
        hits = snapped[snapped["page_url"] != ""]
        assert (hits["snap_distance"] <= 25.0).all()

    def test_skewed_single_cell(self, spark):
        """Adversarial skew: 50% of pages in one spot still correct."""
        rng = np.random.RandomState(3)
        n = 2000
        xs = np.where(rng.rand(n) < 0.5, 630000.0 + rng.randn(n) * 5.0, 628000.0 + rng.rand(n) * 4000.0)
        ys = np.where(rng.rand(n) < 0.5, 5804000.0 + rng.randn(n) * 5.0, 5802000.0 + rng.rand(n) * 4000.0)
        from streetview_naturevisibility_spark.geo.utm import utm_to_lonlat

        lon, lat = utm_to_lonlat(xs, ys, 31)
        tx, ty = tile_xy_np(lon, lat)
        from streetview_naturevisibility_spark.geo.cells import pack_cell_py

        pages_pd = pd.DataFrame(
            {
                "url": [f"u{i}" for i in range(n)],
                "x": xs,
                "y": ys,
                "is_panoramic": (np.arange(n) % 2 == 0),
                "cell_id": [pack_cell_py(a, b, 14) for a, b in zip(tx, ty)],
            }
        )
        pts_x = np.array([630003.0, 629000.0, 631999.0])
        pts_y = np.array([5804001.0, 5803000.0, 5805999.0])
        plon, plat = utm_to_lonlat(pts_x, pts_y, 31)
        ptx, pty = tile_xy_np(plon, plat)
        points_pd = pd.DataFrame(
            {
                "point_id": np.arange(3, dtype=np.int64),
                "x": pts_x,
                "y": pts_y,
                "tile_x": ptx.astype(np.int32),
                "tile_y": pty.astype(np.int32),
            }
        )
        got = (
            knn_snap(
                spark.createDataFrame(points_pd),
                spark.createDataFrame(pages_pd),
                max_distance=50.0,
            )
            .orderBy("point_id")
            .toPandas()
        )
        exp = oracle_knn_snap(points_pd, pages_pd, max_distance=50.0)
        assert (got["page_url"].to_numpy() == exp["page_url"].to_numpy()).all()

    def test_determinism_under_repartition(self, spark, fixture_dir, snapped):
        roads = spark.read.parquet(os.path.join(fixture_dir, "roads.parquet"))
        pages_raw = spark.read.parquet(os.path.join(fixture_dir, "web_pages.parquet")).repartition(13)
        points = sample_points(roads.repartition(5), spacing=50)
        pages = prepare_pages(pages_raw.drop("lon", "lat"), keep_text=False)
        again = knn_snap(points, pages, max_distance=50.0).orderBy("point_id").toPandas()
        assert (again["page_url"].to_numpy() == snapped["page_url"].to_numpy()).all()


class TestKnnReduceVariants:
    def test_two_phase_identical_to_sort_exact(self, spark, fixture_dir, snapped):
        from streetview_naturevisibility_spark.operators.sampling import sample_points
        from streetview_naturevisibility_spark.operators.tiling import prepare_pages

        roads = spark.read.parquet(os.path.join(fixture_dir, "roads.parquet"))
        pages_raw = spark.read.parquet(os.path.join(fixture_dir, "web_pages.parquet"))
        points = sample_points(roads, spacing=50)
        pages = prepare_pages(pages_raw.drop("lon", "lat"), keep_text=False)
        # snapped fixture uses the two_phase DEFAULT; compute the
        # single-pass sort_exact variant here and assert identity
        two = (
            knn_snap(points, pages, max_distance=50.0, reduce="sort_exact")
            .orderBy("point_id")
            .toPandas()
        )
        assert (two["page_url"].to_numpy() == snapped["page_url"].to_numpy()).all()
        a = two["snap_distance"].to_numpy(dtype=float)
        b = snapped["snap_distance"].to_numpy(dtype=float)
        assert (np.isnan(a) == np.isnan(b)).all()
        assert np.allclose(a[~np.isnan(a)], b[~np.isnan(b)])

    def test_two_phase_leaves_cache_empty(self, spark, fixture_dir):
        """Lifecycle contract: repeated snaps in one session must not
        accumulate CacheManager entries (the r2 footgun: cand.persist()
        was never unpersisted, so long-lived drivers leaked cached
        candidate sets and every call site needed clearCache())."""
        roads = spark.read.parquet(os.path.join(fixture_dir, "roads.parquet"))
        pages_raw = spark.read.parquet(os.path.join(fixture_dir, "web_pages.parquet"))
        points = sample_points(roads, spacing=50)
        pages = prepare_pages(pages_raw.drop("lon", "lat"), keep_text=False)

        cache_mgr = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        assert cache_mgr.isEmpty()
        n0 = None
        for _ in range(3):
            out = knn_snap(points, pages, max_distance=50.0, reduce="two_phase")
            n = out.count()
            n0 = n if n0 is None else n0
            assert n == n0
            # the candidate persist must be gone by the time the call returns
            assert cache_mgr.isEmpty(), "two_phase leaked a CacheManager entry"
