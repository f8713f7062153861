"""JVM extraction path vs the Arrow-kernel path: byte-identical text,
bit-equal parsed coords, ~nm-equal UTM, identical snap results."""

from __future__ import annotations

import numpy as np
import pytest

from streetview_naturevisibility_spark.operators.tiling import prepare_pages


@pytest.fixture(scope="module")
def raw_pages(spark, fixture_dir):
    import os

    return spark.read.parquet(os.path.join(fixture_dir, "web_pages.parquet"))


class TestJvmPages:
    def test_text_byte_identical(self, raw_pages):
        a = (
            prepare_pages(raw_pages, engine="jvm")
            .select("url", "text")
            .orderBy("url")
            .collect()
        )
        b = (
            prepare_pages(raw_pages, engine="arrow")
            .select("url", "text")
            .orderBy("url")
            .collect()
        )
        assert len(a) == len(b) > 0
        for ra, rb in zip(a, b):
            assert ra.url == rb.url
            assert ra.text == rb.text  # exact string equality incl. ""

    def test_coords_and_utm_agree(self, raw_pages):
        a = (
            prepare_pages(raw_pages, engine="jvm")
            .select("url", "lon", "lat", "x", "y", "cell_id")
            .orderBy("url")
            .toPandas()
        )
        b = (
            prepare_pages(raw_pages, engine="arrow")
            .select("url", "lon", "lat", "x", "y", "cell_id")
            .orderBy("url")
            .toPandas()
        )
        for c in ("lon", "lat"):
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            nan_eq = np.isnan(av) == np.isnan(bv)
            assert nan_eq.all()
            m = ~np.isnan(av)
            # both parse the same decimal string -> bit-equal doubles
            assert (av[m] == bv[m]).all()
        for c in ("x", "y"):
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            m = ~np.isnan(av)
            assert (np.isnan(av) == np.isnan(bv)).all()
            assert np.abs(av[m] - bv[m]).max() < 1e-6  # JVM vs libm ulps
        # tile/cell math runs on lon/lat (bit-equal) -> identical cells
        assert (
            a["cell_id"].fillna(-1).to_numpy() == b["cell_id"].fillna(-1).to_numpy()
        ).all()

    def test_snap_results_identical(self, spark, fixture_dir):
        import os

        from streetview_naturevisibility_spark.operators.knn import knn_snap
        from streetview_naturevisibility_spark.operators.sampling import (
            sample_points,
        )

        roads = spark.read.parquet(os.path.join(fixture_dir, "roads.parquet"))
        raw = spark.read.parquet(os.path.join(fixture_dir, "web_pages.parquet"))
        points = sample_points(roads, 50)
        outs = {}
        for engine in ("jvm", "arrow"):
            pages = prepare_pages(raw, engine=engine)
            snapped = (
                knn_snap(points, pages, max_distance=50.0)
                .select("point_id", "page_url", "snap_distance")
                .orderBy("point_id")
                .toPandas()
            )
            outs[engine] = snapped
        a, b = outs["jvm"], outs["arrow"]
        assert (a["page_url"].to_numpy() == b["page_url"].to_numpy()).all()
        da, db = a["snap_distance"].to_numpy(), b["snap_distance"].to_numpy()
        assert (np.isnan(da) == np.isnan(db)).all()
        m = ~np.isnan(da)
        assert np.abs(da[m] - db[m]).max() < 1e-6

    def test_jvm_plan_has_no_python(self, raw_pages):
        plan = prepare_pages(raw_pages, engine="jvm")._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
