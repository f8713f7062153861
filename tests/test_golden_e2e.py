"""Golden end-to-end: ``cli pipeline``'s gvi_points and gvi_per_road
outputs vs a pandas-composed oracle (reference semantics chained:
sample -> snap -> score -> aggregate -> metrics)."""

import os

import numpy as np
import pandas as pd
import pytest

from streetview_naturevisibility_spark.fixtures.generate import gen_roads, gen_web_pages
from streetview_naturevisibility_spark.functions.labels import process_labels
from streetview_naturevisibility_spark.functions.text import token_labels_kernel
from streetview_naturevisibility_spark.geo.utm import lonlat_to_utm
from tests.oracle import oracle_knn_snap, oracle_sample_points


@pytest.fixture(scope="module")
def engine_out(spark, pipeline_out):
    def read(name):
        return spark.read.parquet(os.path.join(pipeline_out, name))

    return {
        "gvi": read("gvi_points").orderBy("point_id").toPandas(),
        "per_road": read("gvi_per_road").orderBy("road_id").toPandas(),
    }


@pytest.fixture(scope="module")
def oracle_out():
    roads = gen_roads(60)
    pages = gen_web_pages(500)
    x, y = lonlat_to_utm(pages["lon"].to_numpy(), pages["lat"].to_numpy(), 31)
    pages = pages.assign(x=x, y=y)

    points = oracle_sample_points(roads, spacing=50)
    snapped = oracle_knn_snap(points, pages, max_distance=50.0)

    text_by_url = dict(zip(pages["url"], pages["text"]))
    pano_by_url = dict(zip(pages["url"], pages["is_panoramic"]))

    rows = []
    for r in snapped.itertuples():
        if r.page_url == "":
            rows.append((r.point_id, r.road_id, None, False, True, False, ""))
            continue
        labels = np.asarray(
            token_labels_kernel(pd.Series([text_by_url[r.page_url]]))[0], dtype=np.int32
        )
        g, p, m, e = process_labels(labels, bool(pano_by_url[r.page_url]), False)
        rows.append(
            (
                r.point_id,
                r.road_id,
                g,
                bool(p) if p is not None else False,
                m,
                e,
                r.page_url,
            )
        )
    gvi = pd.DataFrame(
        rows,
        columns=["point_id", "road_id", "gvi", "is_panoramic", "missing", "error", "page_url"],
    )
    per_road = (
        gvi.groupby("road_id")
        .agg(
            avg_gvi=("gvi", "mean"),
            null_points_count=("gvi", lambda s: int(s.isnull().sum())),
            total_points=("gvi", "size"),
        )
        .reset_index()
        .sort_values("road_id")
        .reset_index(drop=True)
    )
    return {"gvi": gvi, "per_road": per_road}


class TestGoldenE2E:
    def test_gvi_points_match(self, engine_out, oracle_out):
        got = engine_out["gvi"]
        exp = oracle_out["gvi"]
        assert len(got) == len(exp)
        assert (got["point_id"].to_numpy() == exp["point_id"].to_numpy()).all()
        assert (got["page_url"].to_numpy() == exp["page_url"].to_numpy()).all()
        assert (got["missing"].to_numpy() == exp["missing"].to_numpy()).all()
        assert (got["error"].to_numpy() == exp["error"].to_numpy()).all()
        assert (got["is_panoramic"].to_numpy() == exp["is_panoramic"].to_numpy()).all()
        g = got["gvi"].to_numpy(dtype=float)
        e = exp["gvi"].to_numpy(dtype=float)
        assert (np.isnan(g) == np.isnan(e)).all()
        assert np.allclose(g[~np.isnan(g)], e[~np.isnan(e)])

    def test_per_road_aggregates_match(self, engine_out, oracle_out):
        got = engine_out["per_road"].sort_values("road_id").reset_index(drop=True)
        exp = oracle_out["per_road"]
        assert (got["road_id"].to_numpy() == exp["road_id"].to_numpy()).all()
        assert (got["total_points"].to_numpy() == exp["total_points"].to_numpy()).all()
        assert (
            got["null_points_count"].to_numpy() == exp["null_points_count"].to_numpy()
        ).all()
        ga = got["avg_gvi"].to_numpy(dtype=float)
        ea = exp["avg_gvi"].to_numpy(dtype=float)
        assert (np.isnan(ga) == np.isnan(ea)).all()
        assert np.allclose(ga[~np.isnan(ga)], ea[~np.isnan(ea)])
