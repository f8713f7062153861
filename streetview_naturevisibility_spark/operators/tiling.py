"""Pages preparation: extract -> parse coords -> project -> tile assign.

The engine analog of the reference's Stage C front half
(modules/osmnx_road_network.py:90-129): instead of downloading vector
tiles, each web page row computes its own cell id. One narrow pipeline,
no shuffle:

  scan(url, html[, warc_ts]) -> fused parse_page UDF (extract_text +
    parse_coords + UTM projection, ONE Arrow round trip; html is
    projected away immediately after — binary payloads never cross a
    shuffle) -> tile_x/tile_y/cell_id (codegen math)

``.explain`` shows exactly one ArrowEvalPython node and a codegen span
for the tile math; filters on url/warc_ts push down to the parquet
scan below the UDF.

``hit_pages`` is the text half: the same kernel over the pages a point
snapped to, after a semi-join on their urls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import make_page_parser
from ..geo.cells import with_cell


def prepare_pages(
    pages_raw: DataFrame,
    zoom: int = 14,
    utm_zone: int = 31,
    keep_text: bool = True,
    engine: str = "arrow",
) -> DataFrame:
    """pages(url, warc_ts, html, lang, is_panoramic) ->
    (url, warc_ts, lang, is_panoramic[, text], lon, lat, x, y,
    tile_x, tile_y, cell_id).

    ``engine="arrow"`` (default): the fused Arrow pandas-UDF parser —
    one Python round trip for the whole extract+parse stage. The
    interleaved same-window A/B (BENCH/pages_interleaved.py, best-of-3
    alternating order, local[32] at 8M pages) measured arrow 7.34 s vs
    jvm 10.69 s (jvm 1.46x slower) — the r3 "parity" claim did not
    survive the controlled protocol, so arrow is the default.
    ``engine="jvm"``: the extraction regexes and the Krüger UTM series
    as pure Column expressions — whole-stage codegen, zero Python
    workers (text byte-identical to the Arrow kernel, pytest-gated;
    x/y agree to ~1e-9 m, see geo/utm.with_utm). Slower per-core on
    Arrow-friendly payloads, but it threads at true N (no ~2N Python
    oversubscription), which is why it holds the better 8->32-core
    scaling number (BENCH/BASELINE.md) and remains the choice when
    executor Python workers are the bottleneck."""
    keep = ["doc_id", "url", "warc_ts", "lang", "is_panoramic"]
    keep = [c for c in keep if c in pages_raw.columns]

    if engine == "jvm":
        from ..geo.utm import with_utm

        html_s = F.col("html").cast("string")
        nan = F.lit(float("nan"))
        # ONE full-payload regex scan extracts the whole geo span; the
        # per-group extracts then run over that short string only
        # (group-1 and group-2 extracts are distinct expressions, so
        # codegen CSE would not merge two full-payload scans). The span
        # column is non-cheap and referenced twice -> CollapseProject
        # keeps it materialized once per row.
        # regexp_extract returns "" on no-match — exactly the kernel's
        # fill; try_cast('') -> NULL, coalesced to NaN to mirror the
        # Arrow path's miss value
        geo_re = r"data-lat='([^']*)' data-lon='([^']*)'"
        span = F.regexp_extract(html_s, geo_re, 0)
        lat = F.coalesce(
            F.regexp_extract(F.col("_geo"), geo_re, 1).try_cast("double"), nan
        )
        lon = F.coalesce(
            F.regexp_extract(F.col("_geo"), geo_re, 2).try_cast("double"), nan
        )
        cols = list(keep)
        if keep_text:
            cols.append(
                F.regexp_extract(html_s, r"(?s)<body><p>(.*?)</p>", 1).alias("text")
            )
        df = pages_raw.withColumn("_geo", span).select(
            *cols, "_geo", lon.alias("lon"), lat.alias("lat")
        ).drop("_geo")
        df = with_utm(df, "lon", "lat", utm_zone)
        return with_cell(df, "lon", "lat", zoom)

    parse_page = make_page_parser(utm_zone, keep_text)
    df = pages_raw.withColumn("_p", parse_page(F.col("html")))
    fields = (["text"] if keep_text else []) + ["lon", "lat", "x", "y"]
    df = df.select(*keep, *[F.col(f"_p.{f}").alias(f) for f in fields])
    return with_cell(df, "lon", "lat", zoom)


def hit_pages(pages_raw: DataFrame, snapped: DataFrame) -> DataFrame:
    """pages(url, html[, warc_ts]) x snapped(page_url) -> (url[,
    warc_ts], text) for every snapshot of each url a point snapped to:
    ``prepare_pages``' text for those rows only, so the Python parse
    of the text stays off the bulk scan (the reference's per-hit
    metadata hop, process_data.py:312-319).

    The hit urls are bounded by the points and are not deduplicated:
    a parquet-backed ``snapped`` carries size statistics, so Spark's
    own threshold broadcasts them while they are small and shuffles
    the semi-join once they are not."""
    keep = [c for c in ("url", "warc_ts") if c in pages_raw.columns]
    urls = snapped.where(F.col("page_url") != "").select(F.col("page_url").alias("url"))
    parse_page = make_page_parser(keep_text=True)
    return (
        pages_raw.select(*keep, "html")
        .join(urls, "url", "left_semi")
        .select(*keep, parse_page(F.col("html"))["text"].alias("text"))
    )
