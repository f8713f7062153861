"""The pipeline checkpoints only what a later stage reads: coordinate-only
pages, a six-column snap stage, and page text parsed for the hit urls
alone, with the same outputs as the full-text composition and across a
checkpoint root written in the older, wider layout."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from streetview_naturevisibility_spark import cli
from streetview_naturevisibility_spark.fixtures.generate import page_html
from streetview_naturevisibility_spark.functions.text import parse_page_kernel
from streetview_naturevisibility_spark.operators import tiling
from streetview_naturevisibility_spark.operators.gvi import score_snapped_points
from streetview_naturevisibility_spark.operators.knn import knn_snap
from streetview_naturevisibility_spark.operators.resume import run_stage
from streetview_naturevisibility_spark.operators.sampling import sample_points
from streetview_naturevisibility_spark.operators.tiling import prepare_pages

SNAPPED = ["point_id", "lon", "lat", "page_url", "snap_distance", "is_panoramic"]
PAGES = ["url", "warc_ts", "lang", "is_panoramic", "lon", "lat", "x", "y",
         "tile_x", "tile_y", "cell_id"]


def stage(spark, out, name):
    return spark.read.parquet(os.path.join(out, "_ckpt", name, "data"))


def rows(df, key):
    return df.orderBy(key).collect()


def test_stages_store_only_what_is_read(spark, pipeline_out):
    """``pages_prepared`` holds coordinates and no text, and ``snapped``
    exactly the columns the scorer reads."""
    assert stage(spark, pipeline_out, "pages_prepared").columns == PAGES
    assert stage(spark, pipeline_out, "snapped").columns == SNAPPED


def test_text_is_parsed_for_hit_rows_only(
    spark, fixture_dir, run_cli_pipeline, tmp_path, monkeypatch
):
    """The text-bearing parse kernel sees the raw page rows of the hit
    urls and nothing else; the bulk parse extracts coordinates only."""
    seen = spark.sparkContext.accumulator(0)
    real = tiling.make_page_parser

    def counting(utm_zone=31, keep_text=True):
        if not keep_text:
            return real(utm_zone, keep_text)

        @F.pandas_udf(real(utm_zone, keep_text).returnType)
        def parse_page(html: pd.Series) -> pd.DataFrame:
            seen.add(len(html))
            return parse_page_kernel(html, utm_zone, True)

        return parse_page

    monkeypatch.setattr(tiling, "make_page_parser", counting)
    out = run_cli_pipeline(str(tmp_path / "out"))
    hits = (
        spark.read.parquet(os.path.join(out, "gvi_points"))
        .where(F.col("page_url") != "")
        .select(F.col("page_url").alias("url"))
    )
    raw = spark.read.parquet(os.path.join(fixture_dir, "web_pages.parquet"))
    n_hit_rows = raw.join(hits, "url", "left_semi").count()
    assert 0 < n_hit_rows < raw.count()
    assert seen.value == n_hit_rows


@pytest.fixture(scope="module")
def two_snapshot_pages(spark, fixture_dir, pipeline_out, tmp_path_factory):
    """The fixture pages plus an earlier snapshot of one hit url: same
    place, another page's text. Returns its path and the point ids that
    snapped to that url."""
    gvi = spark.read.parquet(os.path.join(pipeline_out, "gvi_points"))
    scored = (
        gvi.where(F.col("gvi").isNotNull())
        .groupBy("page_url")
        .agg(F.min("gvi").alias("gvi"), F.collect_set("point_id").alias("ids"))
        .orderBy("page_url")
        .collect()
    )
    hit = scored[0]
    donor = next(r for r in scored if r.gvi != hit.gvi)
    raw = pd.read_parquet(os.path.join(fixture_dir, "web_pages.parquet"))
    row = raw[raw.url == hit.page_url].iloc[0].copy()
    row["text"] = raw[raw.url == donor.page_url].iloc[0]["text"]
    row["html"] = page_html(0, row["text"], row["lon"], row["lat"])
    row["warc_ts"] = row["warc_ts"] - pd.Timedelta(days=1)
    path = str(tmp_path_factory.mktemp("two_snapshots") / "web_pages.parquet")
    pd.concat([raw, row.to_frame().T.astype(raw.dtypes)], ignore_index=True).to_parquet(
        path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    return path, sorted(hit.ids)


def test_gvi_points_equal_the_full_text_composition(
    spark, fixture_dir, run_cli, pipeline_out, two_snapshot_pages, tmp_path
):
    """The CLI's ``gvi_points`` equals scoring against text-bearing
    prepared pages, where one hit url has two snapshots: the earliest
    one's text decides its points' GVI."""
    pages_path, ids = two_snapshot_pages
    roads = os.path.join(fixture_dir, "roads.parquet")
    out = str(tmp_path / "out")
    run_cli("pipeline", "--roads", roads, "--pages", pages_path, "--out", out)
    got = rows(spark.read.parquet(os.path.join(out, "gvi_points")), "point_id")

    points = sample_points(spark.read.parquet(roads), 50)
    pages = prepare_pages(spark.read.parquet(pages_path))
    want = score_snapped_points(knn_snap(points, pages, max_distance=50.0), pages)
    assert got == rows(want, "point_id")
    # the earlier snapshot won: its points score another text than in
    # the single-snapshot run
    before = {r.point_id: r.gvi for r in spark.read.parquet(
        os.path.join(pipeline_out, "gvi_points")).where(F.col("point_id").isin(ids)).collect()}
    after = {r.point_id: r.gvi for r in got if r.point_id in before}
    assert before.keys() == after.keys() and before != after


def test_resume_from_the_wide_layout(
    spark, fixture_dir, run_cli_pipeline, pipeline_out, tmp_path, monkeypatch
):
    """A checkpoint root written in the older layout (text in
    ``pages_prepared``, every point column in ``snapped``) resumes with
    no stage rebuilt, and a root that holds only its first three stages
    scores the wide snap stage; both give a fresh run's outputs."""
    roads = spark.read.parquet(os.path.join(fixture_dir, "roads.parquet"))
    raw = spark.read.parquet(os.path.join(fixture_dir, "web_pages.parquet"))
    out = str(tmp_path / "old")
    root = os.path.join(out, "_ckpt")
    points = run_stage(spark, root, "sample_points", lambda: sample_points(roads, 50))
    pages = run_stage(spark, root, "pages_prepared", lambda: prepare_pages(raw))
    snapped = run_stage(
        spark, root, "snapped", lambda: knn_snap(points, pages, max_distance=50.0)
    )
    run_stage(spark, root, "gvi_points", lambda: score_snapped_points(snapped, pages))
    assert "text" in pages.columns and len(snapped.columns) > len(SNAPPED)

    def files(name):
        d = os.path.join(root, name, "data")
        return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}

    def outputs(o):
        return (
            rows(spark.read.parquet(os.path.join(o, "gvi_points")), "point_id"),
            rows(spark.read.parquet(os.path.join(o, "gvi_per_road")), "road_id"),
        )

    def rebuilt(*_, **__):
        raise AssertionError("a committed stage was rebuilt")

    stages = ("sample_points", "pages_prepared", "snapped", "gvi_points")
    committed = {s: files(s) for s in stages}
    with monkeypatch.context() as m:
        for name in ("sample_points", "prepare_pages", "knn_snap",
                     "score_snapped_points", "hit_pages"):
            m.setattr(cli, name, rebuilt)
        run_cli_pipeline(out)
    assert {s: files(s) for s in stages} == committed
    fresh = outputs(pipeline_out)
    assert outputs(out) == fresh

    # only the scoring stage is missing: it is built from the wide stages
    for f in os.listdir(os.path.join(root, "gvi_points", "data")):
        os.remove(os.path.join(root, "gvi_points", "data", f))
    run_cli_pipeline(out)
    assert outputs(out) == fresh
