"""Each GVI command runs each query once: ``metrics`` answers its six
reports from one stored road-level pre-aggregate, ``gap-fill`` collects
the known set once and evaluates the GAM prediction once per row, and
reading back what the engine wrote runs no schema-inference job."""

import contextlib
import io
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from streetview_naturevisibility_spark.operators import regression
from streetview_naturevisibility_spark.operators.aggregates import (
    availability_report,
    availability_score,
    build_intersection,
    grand_total,
    gvi_per_road,
    highway_report,
    missing_images_metrics,
    missing_images_report,
    panoramic_images_metrics,
    panoramic_report,
    road_aggregate_with_total,
    roads_with_avg_gvi,
    top5_highways,
    totals,
    totals_frame,
    unavailable_images_per_highway,
    usability_report,
    usability_score,
)
from streetview_naturevisibility_spark.session import materialize


def test_metrics_stdout_matches_row_level_composition(
    spark, fixture_dir, pipeline_out, run_cli, capsys
):
    """``metrics`` prints, byte for byte, what the public row-level
    report functions print over ``build_intersection`` (the composition
    the traced benchmark pass runs)."""
    roads_path = os.path.join(fixture_dir, "roads.parquet")
    capsys.readouterr()
    run_cli("metrics", "--roads", roads_path, "--results", pipeline_out)
    got = capsys.readouterr().out

    roads = spark.read.parquet(roads_path)
    points = spark.read.parquet(os.path.join(pipeline_out, "_ckpt", "sample_points", "data"))
    gvi = spark.read.parquet(os.path.join(pipeline_out, "gvi_points"))
    inter = build_intersection(gvi, points, roads).cache()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        for title, df in (
            ("gvi-streets (per-road):", roads_with_avg_gvi(roads, gvi_per_road(inter)).orderBy("road_id")),
            ("missing images:", missing_images_metrics(inter)),
            ("panoramic images:", panoramic_images_metrics(inter)),
            ("availability score:", availability_score(inter)),
            ("usability score:", usability_score(inter)),
            ("top-5 highway types by image count:", top5_highways(unavailable_images_per_highway(inter))),
        ):
            print(title)
            df.show(20)
    inter.unpersist()
    assert got == buf.getvalue()


INTERSECTION = (
    "point_id long, road_id string, page_url string, snap_distance double, "
    "gvi double, is_panoramic boolean, missing boolean, error string, "
    "length double, highway string"
)


def stored_totals(inter):
    """The road rows and the one-row totals frame, as ``metrics``
    stores and observes them."""
    road, st = materialize(
        road_aggregate_with_total(inter), where=~F.col("_total"), **grand_total()
    )
    return road, totals_frame(inter, st)


def test_all_miss_intersection_reports_null(spark):
    """An intersection with no image: every ratio is NULL (the DuckDB
    twin's answer), not ``DIVIDE_BY_ZERO`` under ANSI mode, in the
    row-level reports and in the reports over the observed totals."""
    inter = spark.createDataFrame(
        [(0, "r0", "", None, None, False, True, None, 120.0, "primary")], INTERSECTION
    )
    road, t = stored_totals(inter)
    for report, row_level, ratios in (
        (missing_images_report, missing_images_metrics, {"proportion_null": 1.0}),
        (panoramic_report, panoramic_images_metrics, {"proportion_panoramic": None}),
        (availability_report, availability_score,
         {"availability_score": 0.0, "adjusted_availability_score": 0.0}),
        (usability_report, usability_score,
         {"usability_score": None, "adjusted_usability_score": None}),
    ):
        for df in (report(t), row_level(inter)):
            row = df.collect()[0].asDict()
            assert {k: row[k] for k in ratios} == ratios, row
    for per_highway in (highway_report(road, t), unavailable_images_per_highway(inter)):
        assert [tuple(r) for r in per_highway.collect()] == [("primary", 1, 1.0)]


def test_observed_totals_match_row_level_reports(spark):
    """The totals read from the grand-total row equal the row-level
    aggregates bit for bit, also over many input partitions (partial
    double sums merged in task completion order would not repeat) and
    over an empty intersection (counts 0, sums NULL)."""
    rng = np.random.default_rng(5)
    rows = [
        (i, f"r{i % 37}", "" if i % 3 else f"u{i}", None,
         None if i % 5 == 0 else float(rng.random()), bool(i % 7 == 0), False,
         None, float(rng.random() * 1000.0), f"h{i % 4}")
        for i in range(3000)
    ]
    inter = spark.createDataFrame(rows, INTERSECTION).repartition(16, "point_id")
    for df in (inter, inter.where(F.lit(False))):
        want = totals(df).collect()
        for _ in range(3):
            assert stored_totals(df)[1].collect() == want


def test_warm_round_jobs_per_command(
    spark, fixture_dir, run_cli, jobs_in, tmp_path, capsys, monkeypatch
):
    """On a warm second round, each command runs at most its pinned
    number of Spark jobs, and ``gap-fill --model gam`` evaluates the
    prediction UDF once per written row (a sort above the UDF used to
    evaluate it a second time to sample its range bounds)."""
    roads = os.path.join(fixture_dir, "roads.parquet")
    calls = spark.sparkContext.accumulator(0)

    def counting_udf(gam):
        @F.pandas_udf("double")
        def predict(x: pd.Series) -> pd.Series:
            calls.add(len(x))
            return pd.Series(gam.predict(x.to_numpy()))

        return predict

    monkeypatch.setattr(regression, "_gam_udf", counting_udf)
    commands = {
        "pipeline": lambda out: ("pipeline", "--roads", roads, "--pages",
                                 os.path.join(fixture_dir, "web_pages.parquet"), "--out", out),
        "metrics": lambda out: ("metrics", "--roads", roads, "--results", out),
        "gap-fill": lambda out: ("gap-fill", "--results", out, "--ndvi-grid",
                                 os.path.join(fixture_dir, "ndvi_grid.parquet"),
                                 "--distance", 100.0, "--model", "gam"),
    }
    for r in range(2):
        out = str(tmp_path / f"round{r}")
        got = {
            name: jobs_in(lambda: run_cli(*argv(out)))[1]
            for name, argv in commands.items()
        }
    capsys.readouterr()
    assert got["pipeline"] <= 26 and got["metrics"] <= 9 and got["gap-fill"] <= 13, got
    written = sum(
        spark.read.parquet(str(tmp_path / f"round{r}" / "gvi_filled")).count()
        for r in range(2)
    )
    assert written > 0 and calls.value == written
