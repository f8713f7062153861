"""GVI scoring kernels vs hand-computed oracles + e2e flag semantics."""

import os

import numpy as np
import pandas as pd
import pytest

from streetview_naturevisibility_spark.functions.labels import (
    GRID_H,
    crop_panoramic_images,
    crop_panoramic_images_roads,
    find_peaks,
    get_gvi,
    get_road_pixels_per_column,
    process_labels,
    run_length_encoding,
    to_grid,
)
from pyspark.sql import functions as F
from streetview_naturevisibility_spark.functions.text import token_labels_kernel


class TestRLE:
    def test_hand_case(self):
        rl, vals = run_length_encoding(np.array([1, 1, 0, 0, 0, 1]))
        assert rl.tolist() == [2, 3, 1]
        assert vals.tolist() == [1, 0, 1]

    def test_empty(self):
        rl, vals = run_length_encoding(np.array([]))
        assert rl is None and vals is None

    def test_road_pixels_per_column(self):
        # col0: runs of True: [2]; col1: [1,1] -> max 1; col2: none -> 0
        grid = np.array([[0, 0, 1], [0, 5, 1], [5, 0, 2]])
        out = get_road_pixels_per_column(grid)
        assert out.tolist() == [2.0, 1.0, 0.0]


class TestFindPeaks:
    def test_simple_peaks(self):
        x = np.array([0, 2, 0, 3, 0, 1, 0], dtype=float)
        assert find_peaks(x).tolist() == [1, 3, 5]

    def test_plateau_midpoint(self):
        x = np.array([0, 2, 2, 2, 0], dtype=float)
        assert find_peaks(x).tolist() == [2]

    def test_distance_prunes_lower_neighbor(self):
        x = np.array([0, 2, 0, 3, 0, 1, 0], dtype=float)
        # highest=3 at idx3 removes idx1 (dist 2 < 3) and idx5
        assert find_peaks(x, distance=3).tolist() == [3]

    def test_distance_keeps_far_peaks(self):
        x = np.array([0, 2, 0, 3, 0, 1, 0], dtype=float)
        assert find_peaks(x, distance=2).tolist() == [1, 3, 5]

    def test_prominence(self):
        # peak idx1 (h=2): left base 0, right base the valley at 1 ->
        # prominence = 2 - max(0,1) = 1; peak idx3 (h=3): prominence 3.
        x = np.array([0, 2, 1, 3, 0], dtype=float)
        assert find_peaks(x, prominence=2.0).tolist() == [3]
        assert find_peaks(x, prominence=1.0).tolist() == [1, 3]

    def test_distance_below_one_raises(self):
        with pytest.raises(ValueError):
            find_peaks(np.array([0.0, 1.0, 0.0]), distance=0)

    def test_boundaries_never_peaks(self):
        x = np.array([5, 0, 5], dtype=float)
        assert find_peaks(x).tolist() == []


class TestCrops:
    def test_four_way_split_shapes(self):
        grid = np.arange(13 * 40).reshape(13, 40)
        crops = crop_panoramic_images(grid)
        w4, h4 = 10, 3
        h43 = int(w4 * 3 / 4)  # 7
        assert len(crops) == 4
        for k, c in enumerate(crops):
            assert c.shape == (h43, w4)
            assert (c == grid[h4 : h4 + h43, k * w4 : (k + 1) * w4]).all()

    def test_wraparound_assembly(self):
        # widened grid width 50 (orig 40 + w4=10); centre near right edge
        # requiring assembly: xrapneeded = 43, centre 47 > 43, < w98=56.25
        grid = np.arange(13 * 50).reshape(13, 50)
        crops = crop_panoramic_images_roads(40, grid, [47])
        w4 = 12  # int(50/4)
        h4, h43 = 3, 9
        assert crops[0].shape == (h43, w4)
        xlo = int(47 - w4 / 2)  # 41
        part1 = grid[h4 : h4 + h43, xlo:50]
        part2 = grid[h4 : h4 + h43, 0 : w4 - (50 - xlo)]
        assert (crops[0] == np.concatenate((part1, part2), axis=1)).all()

    def test_duplicated_centre_dropped(self):
        grid = np.zeros((13, 50), dtype=int)
        # centre 45 >= original_width 40 -> duplicate of 5 -> both collapse
        crops = crop_panoramic_images_roads(40, grid, [5, 45])
        assert len(crops) == 1


class TestGVI:
    def test_ratio(self):
        seg = np.array([[8, 8, 0], [1, 8, 2]])
        assert get_gvi([seg]) == pytest.approx(3 / 6)

    def test_empty_crops_give_zero(self):
        assert get_gvi([]) == 0

    def test_process_labels_pano_never_missing(self):
        labels = np.tile(np.arange(19), 20)[: 16 * 20]
        g, p, m, e = process_labels(labels, True, False)
        assert p is True and m is False and e is False
        assert 0.0 <= g <= 1.0

    def test_process_labels_non_pano_no_road_is_missing(self):
        labels = np.full(160, 8, dtype=np.int32)  # all vegetation, no road runs vary
        g, p, m, e = process_labels(labels, False, False)
        # constant road profile has no interior local maxima -> no centres
        assert (g, p, m, e) == (None, None, True, False)

    def test_process_labels_non_pano_with_road_peak(self):
        # Build a grid whose road-run profile has a clear interior peak.
        grid = np.ones((GRID_H, 9), dtype=np.int32)
        grid[2:10, 4] = 0  # long road run in middle column
        grid[4:6, 2] = 0  # short run left
        labels = grid.reshape(-1)
        g, p, m, e = process_labels(labels, False, False)
        assert m is False and e is False and p is False
        assert g == pytest.approx((labels == 8).sum() / labels.size)

    def test_too_short_page_is_error(self):
        g, p, m, e = process_labels(np.arange(5), False, False)
        assert (m, e) == (True, True)

    def test_to_grid_truncates(self):
        grid = to_grid(np.arange(35), height=16)
        assert grid.shape == (16, 2)


class TestPipelineE2E:
    def test_flag_semantics_and_determinism(
        self, spark, pipeline_out, run_cli_pipeline, tmp_path
    ):
        def gvi_points(out):
            path = os.path.join(out, "gvi_points")
            return spark.read.parquet(path).orderBy("point_id").toPandas()

        gvi = gvi_points(pipeline_out)

        # misses: gvi null, missing, no error, pano False, distance null
        miss = gvi[gvi["page_url"] == ""]
        assert len(miss) > 0
        assert miss["gvi"].isnull().all()
        assert miss["missing"].all()
        assert (~miss["error"]).all()

        hits = gvi[gvi["page_url"] != ""]
        assert len(hits) > 0
        scored = hits[~hits["gvi"].isnull()]
        assert ((scored["gvi"] >= 0) & (scored["gvi"] <= 1)).all()
        # pano hits are never missing (reference returns GVI
        # unconditionally for panoramic images)
        pano_hits = hits[hits["is_panoramic"]]
        assert (~pano_hits["missing"]).all()

        per_road = spark.read.parquet(os.path.join(pipeline_out, "gvi_per_road")).toPandas()
        assert (per_road["total_points"] >= per_road["null_points_count"]).all()

        # determinism: a fresh run (own checkpoint dir, nothing resumed)
        # writes identical points
        gvi2 = gvi_points(run_cli_pipeline(str(tmp_path / "again")))
        pd.testing.assert_frame_equal(gvi.reset_index(drop=True), gvi2.reset_index(drop=True))


class TestDuplicateUrlJoinBack:
    def test_duplicate_urls_do_not_duplicate_points(self, spark):
        """Multi-snapshot crawls hold the same url several times
        (distinct warc_ts); the score join-back must stay one row per
        point, first-wins on warc_ts."""
        import numpy as np
        from pyspark.sql import functions as F

        from streetview_naturevisibility_spark.functions.text import fnv1a32
        from streetview_naturevisibility_spark.operators.gvi import (
            score_snapped_points,
        )

        # build two texts with known GVI: ~50% vegetation vs none
        veg, other = [], []
        i = 0
        while len(veg) < 320 or len(other) < 640:
            tok = f"t{i}"
            lab = int(fnv1a32(np.array([tok], dtype=object))[0] % 19)
            if lab == 8:
                veg.append(tok)
            elif lab == 3:
                other.append(tok)
            i += 1
        t_half = " ".join(x for pair in zip(veg[:320], other[:320]) for x in pair)
        t_zero = " ".join(other[:640])

        snapped = spark.createDataFrame(
            [(1, 4.7, 52.2, "u1", 3.0, True), (2, 4.8, 52.3, "", None, False)],
            "point_id: long, lon: double, lat: double, page_url: string, "
            "snap_distance: double, is_panoramic: boolean",
        )
        pages = spark.createDataFrame(
            [("u1", t_zero, 200), ("u1", t_half, 100)],  # warc_ts 100 wins
            "url: string, text: string, warc_ts: int",
        )
        out = score_snapped_points(snapped, pages).orderBy("point_id").toPandas()
        assert len(out) == 2  # one row per point, no duplication
        assert out["point_id"].tolist() == [1, 2]
        assert out["gvi"].iloc[0] == pytest.approx(0.5)  # earliest snapshot won
        # deterministic under input reordering
        out2 = (
            score_snapped_points(snapped, pages.orderBy(F.desc("warc_ts")))
            .orderBy("point_id")
            .toPandas()
        )
        assert out2["gvi"].iloc[0] == pytest.approx(0.5)


class TestIndependentScalarOracle:
    """The golden-table oracle (tests/oracle.oracle_gvi_score, a scalar
    pure-Python port sharing no code with functions/labels.py) must
    agree with the engine kernels on real document text — this is the
    independence check behind the gvi_score_docs driver gate."""

    def test_matches_engine_kernels_on_documents(self):
        import duckdb

        from tests.oracle import oracle_gvi_score, oracle_token_labels

        docs = duckdb.sql(
            "SELECT doc_id, text FROM '/root/testdata/sf0.001/documents.parquet' "
            "ORDER BY doc_id LIMIT 250"
        ).df()
        labels_engine = token_labels_kernel(docs["text"])
        n_scored = n_missing = n_error = 0
        for i, (did, text) in enumerate(zip(docs["doc_id"], docs["text"])):
            pano = bool(did % 5 == 0)
            le = np.asarray(labels_engine[i], dtype=np.int32)
            assert list(le) == oracle_token_labels(text)
            g, p, m, e = process_labels(le, pano, False)
            go = oracle_gvi_score(text, pano)
            assert (g, bool(p) if p is not None else False, m, e) == go
            n_scored += g is not None
            n_missing += m and not e
            n_error += e
        # all three flag regimes are exercised by real corpus text
        assert n_scored > 0 and n_missing > 0 and n_error > 0

    def test_spark_round6_matches_f_round_on_decimal_tie(self, spark):
        """k/640 lands exactly on a 6-decimal .5 tie: Spark round() is
        HALF_UP on the shortest repr; the golden generator must match."""
        from tools.make_golden import spark_round6

        vals = [1.0 / 640, 3.0 / 640, 0.123456749, 1e-07, 0.9999995]
        got = (
            spark.createDataFrame([(v,) for v in vals], "v double")
            .select(F.round("v", 6).alias("r"))
            .toPandas()["r"]
            .tolist()
        )
        assert got == [spark_round6(v) for v in vals]
