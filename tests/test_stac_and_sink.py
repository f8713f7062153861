"""S9 (local static STAC catalog source): catalog parse, search
predicates, lowest-cloud selection, NDVI and landcover, with only the
reference's network fetch left out as an environment capability."""

import os

import numpy as np
import pytest

from streetview_naturevisibility_spark.sources import stac


@pytest.fixture(scope="module")
def catalog(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stac") / "catalog")
    stac.write_stac_fixture(out, n_items=6)
    return out


AOI = (620000.0, 5180000.0, 622000.0, 5181500.0)
YEAR = ("2021-01-01", "2021-12-30")


class TestStacSource:
    def test_items_parse_with_explicit_schema(self, spark, catalog):
        items = stac.read_stac_items(spark, catalog).orderBy("item_id").collect()
        assert len(items) == 8  # 6 sentinel + 2 worldcover vintages
        r0 = items[0]
        assert r0.item_id == "item-0" and r0.collection == "sentinel-2-l2a"
        assert r0.cloud_cover == 3.0
        assert r0.xmin < AOI[0] and r0.xmax > AOI[2]
        assert r0.red_href.endswith("item-0-red.parquet")
        assert str(r0.datetime).startswith("2021-01-15")

    def test_search_applies_every_predicate(self, spark, catalog):
        items = stac.read_stac_items(spark, catalog)
        got = sorted(
            r.item_id
            for r in stac.search_items(
                items, "sentinel-2-l2a", AOI, YEAR, max_cloud=20.0
            ).collect()
        )
        # k=1 is another collection; k=2,5 footprints miss the AOI;
        # k=3 has cloud 54 >= 20 -> survivors are k=0 (cloud 3) and
        # k=4 (cloud 11)
        assert got == ["item-0", "item-4"]

    def test_lowest_cloud_selection_and_date_window(self, spark, catalog):
        items = stac.read_stac_items(spark, catalog)
        best = stac.select_lowest_cloud(
            stac.search_items(items, "sentinel-2-l2a", AOI, YEAR, 20.0)
        ).collect()[0]
        assert best.item_id == "item-0"
        # narrow the window to exclude January -> item-4 (May) wins
        best2 = stac.select_lowest_cloud(
            stac.search_items(
                items, "sentinel-2-l2a", AOI, ("2021-02-01", "2021-12-30"), 20.0
            )
        ).collect()[0]
        assert best2.item_id == "item-4"

    def test_ndvi_matches_closed_form(self, spark, catalog):
        ndvi_df, item = stac.ndvi_for_aoi(spark, catalog, AOI, YEAR)
        assert item.item_id == "item-0"
        out = ndvi_df.orderBy("cell_x", "cell_y").toPandas()
        assert len(out) == 20 * 15
        # closed-form oracle: band synth restated independently (k=0)
        red = 0.2 + 0.1 * np.sin(out["cx"].to_numpy() / 400.0)
        x0 = item.xmin  # = base x0 + shift - 500 ; cy from fixture grid
        nir = 0.5 + 0.2 * np.cos(out["cy"].to_numpy() / 300.0)
        want = (nir - red) / (nir + red)
        assert np.allclose(out["ndvi"].to_numpy(), want, atol=1e-12)

    def test_no_match_raises(self, spark, catalog):
        with pytest.raises(ValueError, match="no STAC item"):
            stac.ndvi_for_aoi(spark, catalog, AOI, YEAR, max_cloud=1.0)


class TestStacNdviCli:
    def test_cli_writes_gapfill_compatible_grid(
        self, spark, run_cli, catalog, tmp_path, capsys
    ):
        out = str(tmp_path / "ndvi_out")
        run_cli(
            "stac-ndvi",
            "--catalog", catalog,
            "--bbox", ",".join(str(v) for v in AOI),
            "--date-range", "2021-01-01,2021-12-30",
            "--collection", "sentinel-2-l2a",
            "--max-cloud", 20.0,
            "--out", out,
        )
        printed = capsys.readouterr().out
        assert "item-0" in printed and "cloud cover: 3.0" in printed
        grid = spark.read.parquet(os.path.join(out, "ndvi_grid.parquet"))
        # the exact shape gap-fill --ndvi-grid consumes
        assert sorted(grid.columns) == ["cell_x", "cell_y", "cx", "cy", "value"]
        assert grid.count() == 20 * 15
        got = grid.orderBy("cell_x", "cell_y").toPandas()
        red = 0.2 + 0.1 * np.sin(got["cx"].to_numpy() / 400.0)
        nir = 0.5 + 0.2 * np.cos(got["cy"].to_numpy() / 300.0)
        assert np.allclose(got["value"].to_numpy(), (nir - red) / (nir + red), atol=1e-12)


class TestLandcoverPercentages:
    def test_most_recent_vintage_and_fractions(self, spark, catalog):
        """Worldcover flow: most-recent item wins (2020 plants the
        INVERTED class layout, so selecting it would flip every
        value), and per-point class percentages match a NumPy oracle
        over the planted half/half grid."""
        import pandas as pd

        # grid: 20x15 cells of 100 m starting at (619500-500, ...)
        # planted: class 10 left of the bbox midline, 30 right (2021)
        x0, y0 = 620000.0 - 500.0, 5180000.0 - 500.0
        x1 = 622000.0 + 500.0
        mid = (x0 + x1) / 2.0
        pts = spark.createDataFrame(
            [
                (1, x0 + 250.0, y0 + 750.0),   # deep left -> all class 10
                (2, x1 - 300.0, y0 + 750.0),   # deep right -> all class 30
                (3, mid, y0 + 750.0),          # straddles the midline
            ],
            "point_id: long, x: double, y: double",
        )
        out, item = stac.landcover_percentages(spark, catalog, pts, radius=220.0)
        assert item.item_id == "worldcover-2021"
        got = out.toPandas()
        # NumPy oracle over the planted grid
        import numpy as np

        cx = x0 + 50.0 + 100.0 * np.arange(20)
        cy = y0 + 50.0 + 100.0 * np.arange(15)
        CX, CY = np.meshgrid(cx, cy, indexing="ij")
        cls = np.where(CX < mid, 10.0, 30.0)
        for pid, px, py in [(1, x0 + 250.0, y0 + 750.0), (2, x1 - 300.0, y0 + 750.0), (3, mid, y0 + 750.0)]:
            inside = (CX - px) ** 2 + (CY - py) ** 2 <= 220.0**2
            want = {
                c: int(((cls == c) & inside).sum())
                for c in (10.0, 30.0)
                if ((cls == c) & inside).any()
            }
            rows = got[got["point_id"] == pid]
            assert {r["class"]: r.cell_count for _, r in rows.iterrows()} == want, pid
        # class names joined from the item's classification table
        names = dict(zip(got["class"], got["class_description"]))
        assert names[10.0] == "Tree cover"
        assert 1 in set(got[got["class_description"] == "Tree cover"]["point_id"])


class TestStacLandcoverCli:
    def test_cli_writes_percentages(self, spark, run_cli, catalog, tmp_path, capsys):
        pts = str(tmp_path / "pts")
        spark.createDataFrame(
            [(1, 620000.0 - 250.0, 5180000.0 + 250.0)],
            "point_id: long, x: double, y: double",
        ).write.mode("overwrite").parquet(pts)
        out = str(tmp_path / "lc")
        run_cli(
            "stac-landcover", "--catalog", catalog, "--points", pts,
            "--radius", 220.0, "--out", out,
        )
        printed = capsys.readouterr().out
        assert "worldcover-2021" in printed
        got = spark.read.parquet(
            os.path.join(out, "landcover_percentages.parquet")
        ).toPandas()
        assert len(got) >= 1
        assert set(got["class_description"]) <= {"Tree cover", "Grassland"}
        assert got["pct"].str.endswith("%").all()
