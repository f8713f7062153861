"""Point-in-polygon membership + zonal stats vs NumPy oracles
(plumbing: the bin prefilter must not lose any candidate the exact
kernel accepts)."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from streetview_naturevisibility_spark.fixtures.generate import (
    boundary_polygon,
    gen_roads,
    gen_web_pages,
    gen_ndvi_grid,
)
from streetview_naturevisibility_spark.geo.polygon import (
    dist_point_to_segments,
    dist_points_to_segments,
    parse_wkt_coords,
    points_in_polygon,
)
from streetview_naturevisibility_spark.geo.utm import lonlat_to_utm
from streetview_naturevisibility_spark.operators.pip import make_pip_flag_udf
from streetview_naturevisibility_spark.operators.sampling import sample_points
from streetview_naturevisibility_spark.operators.tiling import prepare_pages
from streetview_naturevisibility_spark.operators.zonal import zonal_histogram, zonal_mean
from tests.oracle import oracle_sample_points


@pytest.fixture(scope="module")
def pages_prepared(spark, fixture_dir):
    raw = spark.read.parquet(os.path.join(fixture_dir, "web_pages.parquet"))
    return prepare_pages(raw.drop("lon", "lat"), keep_text=False)


class TestPipJoin:
    def test_boundary_membership_matches_kernel(self, spark, fixture_dir, pages_prepared):
        """The boundary flag UDF (the contract's pip path) over the
        prepared pages keeps exactly the pages the kernel puts inside."""
        polygons = spark.read.parquet(os.path.join(fixture_dir, "polygons.parquet"))
        wkt = polygons.where(F.col("polygon_id") == "boundary").first().geometry_wkt
        inside_udf = make_pip_flag_udf(wkt)
        got = (
            pages_prepared.where(inside_udf(F.col("x"), F.col("y")))
            .select("url")
            .toPandas()["url"]
            .sort_values()
            .tolist()
        )
        pages = gen_web_pages(500)
        x, y = lonlat_to_utm(pages["lon"].to_numpy(), pages["lat"].to_numpy(), 31)
        inside = points_in_polygon(x, y, boundary_polygon())
        expected = sorted(pages["url"][inside].tolist())
        assert got == expected
        # the notch must actually reject some bbox-passing pages
        x0, y0, x1, y1 = 628000.0, 5802000.0, 632000.0, 5806000.0
        in_bbox = (x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)
        assert in_bbox.sum() > inside.sum()

    def test_road_buffer_membership_matches_kernel(self, spark, fixture_dir, pages_prepared):
        """Road-buffer membership by the batch distance kernel (the one
        isochrone runs per edge batch) over the prepared pages equals
        the scalar point-to-polyline oracle, per fixture buffer."""
        polygons = (
            spark.read.parquet(os.path.join(fixture_dir, "polygons.parquet"))
            .where(F.col("kind") == "road_buffer")
            .toPandas()
        )
        pts = pages_prepared.select("x", "y").toPandas()
        got: dict[str, int] = {}
        for r in polygons.itertuples():
            coords = parse_wkt_coords(r.geometry_wkt)
            d = dist_points_to_segments(pts["x"].to_numpy(), pts["y"].to_numpy(), coords)
            n = int((d <= r.radius).sum())
            if n:
                got[r.polygon_id] = n
        pages = gen_web_pages(500)
        x, y = lonlat_to_utm(pages["lon"].to_numpy(), pages["lat"].to_numpy(), 31)
        expected: dict[str, int] = {}
        for _, r in gen_roads(60).iterrows():
            coords = parse_wkt_coords(r.geometry_wkt)
            n = sum(
                1
                for px, py in zip(x, y)
                if dist_point_to_segments(px, py, coords) <= 25.0
            )
            if n:
                expected[f"buf_{r.road_id}"] = n
        assert got == expected


class TestZonal:
    def test_zonal_mean_matches_oracle(self, spark, fixture_dir):
        roads = spark.read.parquet(os.path.join(fixture_dir, "roads.parquet"))
        points = sample_points(roads, spacing=50)
        grid = spark.read.parquet(os.path.join(fixture_dir, "ndvi_grid.parquet"))
        got = (
            zonal_mean(points, grid, radius=25.0)
            .orderBy("point_id")
            .toPandas()
        )

        pts = oracle_sample_points(gen_roads(60), spacing=50)
        g = gen_ndvi_grid()
        gx = g["cx"].to_numpy()
        gy = g["cy"].to_numpy()
        gv = g["value"].to_numpy()
        exp_rows = []
        for _, p in pts.iterrows():
            d2 = (gx - p.x) ** 2 + (gy - p.y) ** 2
            sel = d2 <= 25.0**2
            if sel.any():
                exp_rows.append(
                    {
                        "point_id": int(p.point_id),
                        "mean_ndvi": round(float(np.maximum(gv[sel], 0.0).mean()), 3),
                    }
                )
        exp = pd.DataFrame(exp_rows)
        assert len(got) == len(exp)
        assert (got["point_id"].to_numpy() == exp["point_id"].to_numpy()).all()
        assert np.abs(got["mean_ndvi"].to_numpy() - exp["mean_ndvi"].to_numpy()).max() <= 0.001

    def test_clamp_before_mean(self, spark):
        # one point, two cells in range: values -0.5 and 0.5
        points = spark.createDataFrame(
            pd.DataFrame({"point_id": [0], "x": [0.0], "y": [0.0]})
        )
        grid = spark.createDataFrame(
            pd.DataFrame(
                {"cx": [1.0, 2.0], "cy": [0.0, 0.0], "value": [-0.5, 0.5]}
            )
        )
        got = zonal_mean(points, grid, radius=25.0).collect()[0]
        # clamp FIRST: mean(0, 0.5) = 0.25 (NOT mean(-0.5,0.5)=0.0)
        assert got.mean_ndvi == pytest.approx(0.25)

    def test_zonal_histogram(self, spark):
        points = spark.createDataFrame(
            pd.DataFrame({"point_id": [0], "x": [0.0], "y": [0.0]})
        )
        grid = spark.createDataFrame(
            pd.DataFrame(
                {
                    "cx": [1.0, 2.0, 3.0, 100.0],
                    "cy": [0.0, 0.0, 0.0, 0.0],
                    "value": [0.1, 0.1, 0.9, 0.9],
                }
            )
        ).withColumn("class", (F.col("value") > 0.5).cast("int"))
        got = (
            zonal_histogram(points, grid, "class", radius=25.0)
            .orderBy("class")
            .toPandas()
        )
        assert got["cell_count"].tolist() == [2, 1]
        assert got["pct"].tolist() == ["66.667%", "33.333%"]

    def test_packed_bins_across_the_sign_boundary(self, spark):
        """Points and cells straddle bin 0 on both axes (negative x and
        y): the packed ``(bin_x << 32) + bin_y`` key and its constant
        ring offsets must find exactly the brute-force candidates. One
        cell sits at exactly ``radius`` (counted: the filter is
        inclusive), one a hair beyond it (not counted)."""
        radius = 25.0
        pts = pd.DataFrame(
            {
                "point_id": [0, 1, 2, 3],
                "x": [-3.0, 0.5, -26.0, 24.9],
                "y": [4.0, -0.5, -24.0, -25.1],
            }
        )
        gx, gy = np.meshgrid(np.arange(-72.5, 75.0, 7.5), np.arange(-71.0, 75.0, 6.5))
        cx = np.concatenate([gx.ravel(), [-28.0, -3.0]])
        cy = np.concatenate([gy.ravel(), [4.0, 4.0 + radius + 1e-9]])
        value = np.sin(cx * 0.37 + cy * 0.11)
        grid_pd = pd.DataFrame({"cx": cx, "cy": cy, "value": value})
        grid_pd["class"] = (np.floor(value * 3) + 3).astype(np.int32)
        points = spark.createDataFrame(pts)
        grid = spark.createDataFrame(grid_pd)

        d2 = (cx[None, :] - pts["x"].to_numpy()[:, None]) ** 2 + (
            cy[None, :] - pts["y"].to_numpy()[:, None]
        ) ** 2
        inside = d2 <= radius * radius
        assert inside[0, -2] and not inside[0, -1]

        got = zonal_mean(points, grid, radius=radius).orderBy("point_id").toPandas()
        exp = [round(float(np.maximum(value[m], 0.0).mean()), 3) for m in inside]
        assert got["point_id"].tolist() == [0, 1, 2, 3]
        assert np.abs(got["mean_ndvi"].to_numpy() - np.array(exp)).max() <= 0.001

        hist = (
            zonal_histogram(points, grid, "class", radius=radius)
            .orderBy("point_id", "class")
            .toPandas()
        )
        exp_rows = []
        for pid, m in enumerate(inside):
            classes, counts = np.unique(grid_pd["class"].to_numpy()[m], return_counts=True)
            exp_rows += [(pid, int(c), int(n), n * 100.0 / m.sum()) for c, n in zip(classes, counts)]
        got_rows = list(zip(hist["point_id"], hist["class"], hist["cell_count"]))
        assert got_rows == [r[:3] for r in exp_rows]
        pct = hist["pct"].str.rstrip("%").astype(float).to_numpy()
        assert np.abs(pct - np.array([r[3] for r in exp_rows])).max() <= 0.0005
