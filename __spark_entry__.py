"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs a real engine operator (from
``streetview_naturevisibility_spark``) over geo tables derived
deterministically from the driver testdata; the matching
``oracle_sql()`` entry is its arithmetic twin in DuckDB SQL (see
sources/derived.py for the pinned-constant contract). Non-SQL
operators (UTM projection, label-grid GVI, minhash, …) are covered by
pytest NumPy oracles and appear here as rows-only checks.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streetview_naturevisibility_spark.geo.hexgrid import hex_cell_sql_ctes
from streetview_naturevisibility_spark.geo.polygon import coords_to_wkt, halfplane_sql
from streetview_naturevisibility_spark.operators import aggregates as agg
from streetview_naturevisibility_spark.operators.pip import make_pip_flag_udf
from streetview_naturevisibility_spark.operators.zonal import zonal_mean
from streetview_naturevisibility_spark.session import materialize
from streetview_naturevisibility_spark.sources import derived as D
from streetview_naturevisibility_spark.sources.tables import load

# DuckDB list literals of the pinned stopword lists (textops.STOPWORDS)
from streetview_naturevisibility_spark.operators.textops import STOPWORDS as _SW

STOP_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]" for lang, words in _SW.items()
}


# --------------------------------------------------------------- helpers
def _geo_sql(select: str) -> str:
    return D.with_clause(*D.GEO_CTES) + "\n" + select


def _minhash_oracle_sql(
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    source: str = "documents",
) -> str:
    """DuckDB twin of minhash_lsh_pairs(hash_method='md5'): identical
    shingling, permutation constants (dedup._perm_params), band string
    keys, candidate self-join and exact Jaccard verify. ``source`` is
    the table/CTE holding (doc_id, text) — "documents" for the
    standalone contract row, the quality+exact-dedup survivor CTE for
    the curate-funnel row."""
    from streetview_naturevisibility_spark.operators.dedup import (
        _MINHASH_MOD,
        _perm_params,
    )

    rows = k // bands
    perms = _perm_params(k)
    mh_exprs = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {_MINHASH_MOD}))"
        for a, b in perms
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS id, string_split(text, ' ') AS tk FROM {source}),
shg AS (
  SELECT id, list_distinct(list_transform(
           range(1, greatest(len(tk) - {n - 1}, 1) + 1),
           i -> array_to_string(list_slice(tk, i, i + {n - 1}), ' '))) AS sh
  FROM toks),
hs AS (
  SELECT id, sh, list_transform(
           sh, s -> CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) % 4294967296) AS hs
  FROM shg),
mh AS (SELECT id, sh, [{mh_exprs}] AS mh FROM hs),
buckets AS (
  SELECT id, b.band, array_to_string(
           list_slice(mh, b.band * {rows} + 1, b.band * {rows} + {rows}), '|') AS bh
  FROM mh, (SELECT unnest(range(0, {bands})) AS band) b),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
  FROM cand c JOIN shg sa ON c.id_a = sa.id JOIN shg sb ON c.id_b = sb.id
) WHERE jaccard >= {threshold!r}"""


def _fingerprint_oracle_sql(window: int = 8) -> str:
    """DuckDB twin of textops.fingerprint_col: same md5-60bit % 2^43
    token hash, same Rabin-Karp fold per window, min over windows.
    list_reduce starts from the first element, which equals the
    init-0 fold because 0*B + h1 = h1."""
    from streetview_naturevisibility_spark.operators.textops import (
        FP_BASE,
        FP_MOD_BITS,
    )

    mod = 1 << FP_MOD_BITS
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
hsx AS (
  SELECT doc_id, list_transform(
           tk, s -> CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) % {mod}) AS hs
  FROM t)
SELECT doc_id,
       list_min(list_transform(
         range(1, greatest(len(hs) - {window - 1}, 1) + 1),
         i -> list_reduce(list_slice(hs, i, i + {window - 1}),
                          (acc, h) -> (acc * {FP_BASE} + h) % {mod}))) AS fingerprint
FROM hsx"""


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    """DuckDB twin of simhash_near_dups(hash_method='md5'): identical
    60-bit per-bit majority signature, 15-bit chunk buckets, popcount
    verify."""
    from streetview_naturevisibility_spark.operators.dedup import SIMHASH_MD5_BITS

    bit_terms = " + ".join(
        f"(CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> {b}) & 1)) > n"
        f" THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_MD5_BITS)
    )
    return f"""
WITH t AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS tk FROM documents),
hsx AS (
  SELECT id, list_transform(tk, s -> CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)) AS hs,
         CAST(len(tk) AS BIGINT) AS n
  FROM t),
sig AS (SELECT id, ({bit_terms}) AS sig FROM hsx),
buckets AS (
  SELECT id, sig, c.chunk, (sig >> (c.chunk * 15)) & 32767 AS cv
  FROM sig, (SELECT unnest(range(0, 4)) AS chunk) c)
SELECT id_a, id_b, hamming FROM (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) AS hamming
  FROM buckets a JOIN buckets b ON a.chunk = b.chunk AND a.cv = b.cv AND a.id < b.id
) WHERE hamming <= {max_hamming}"""


def _ann_lsh_oracle_sql(n_planes: int = 6, dim: int = 64, seed: int = 7) -> str:
    """DuckDB twin of ann_topk_lsh: the hyperplanes are deterministic
    constants (similarity.hyperplanes), so each signature bit is a
    literal-plane dot product; multiprobe hamming<=1 via bit_count;
    exact float64 cosine ranks inside the probed buckets."""
    from streetview_naturevisibility_spark.operators.similarity import hyperplanes

    planes = hyperplanes(dim, n_planes, seed)
    lit = lambda p: "[" + ", ".join(repr(float(v)) for v in p) + "]"  # noqa: E731
    sig_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(list_zip(embedding, {lit(planes[j])}),"
        f" p -> CAST(p[1] AS DOUBLE) * p[2])) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes)
    )
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding, CAST({sig_terms} AS INTEGER) AS sig FROM embeddings
),
q AS (SELECT sig AS qsig, embedding AS qv FROM sigs WHERE vec_id = 0)
SELECT id, round(cosine, 6) AS cosine FROM (
  SELECT s.vec_id AS id,
         list_sum(list_transform(list_zip(s.embedding, q.qv),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(s.embedding,
                  v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv,
                  v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cosine
  FROM sigs s, q
  WHERE bit_count(CAST(xor(CAST(s.sig AS BIGINT), CAST(q.qsig AS BIGINT)) AS BIGINT)) <= 1
) ORDER BY cosine DESC, id LIMIT 10"""


def _ivf_oracle_sql(n_lists: int = 8, dim: int = 64, n_probe: int = 2, seed: int = 21, k: int = 10) -> str:
    """DuckDB twin of ivf_topk_pinned: the centroids are deterministic
    literals (similarity.pinned_centroids), so list assignment is
    list_position(argmin of literal squared distances) and probe
    selection is ORDER BY distance, index LIMIT n_probe — the exact
    expressions the engine evaluates (same sequential-fold FP order)."""
    from streetview_naturevisibility_spark.operators.similarity import pinned_centroids

    cents = pinned_centroids(n_lists, dim, seed)
    lit = lambda c: "[" + ", ".join(repr(float(v)) for v in c) + "]"  # noqa: E731

    def sqd(vec_expr: str, c) -> str:
        return (
            f"list_sum(list_transform(list_zip({vec_expr}, {lit(c)}),"
            " p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"
        )

    cq_rows = "\n  UNION ALL ".join(
        f"SELECT {i} AS i, {sqd('qv', cents[i])} AS d FROM q" for i in range(n_lists)
    )
    dl = "[" + ",\n    ".join(sqd("embedding", c) for c in cents) + "]"
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cq AS (
  {cq_rows}
),
probe AS (SELECT i FROM cq ORDER BY d, i LIMIT {n_probe}),
assigned AS (
  SELECT vec_id, embedding, list_position(dl, list_min(dl)) - 1 AS list_id
  FROM (SELECT vec_id, embedding, {dl} AS dl FROM embeddings)
)
SELECT id, round(cosine, 6) AS cosine FROM (
  SELECT a.vec_id AS id,
         list_sum(list_transform(list_zip(a.embedding, q.qv),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding,
                  v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv,
                  v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cosine
  FROM assigned a, q
  WHERE a.list_id IN (SELECT i FROM probe)
) ORDER BY cosine DESC, id LIMIT {k}"""


def _dup_clusters_oracle_sql() -> str:
    """DuckDB twin of duplicate_clusters over the md5 MinHash-LSH
    pairs: reruns the portable LSH pipeline (_minhash_oracle_sql) as a
    CTE, then closes connected components with a recursive min-label
    walk — the same fixpoint the engine's iterative propagation
    reaches."""
    pairs = _minhash_oracle_sql(k=32, bands=8, n=3, threshold=0.5)
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({pairs}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT a AS id FROM edges),
walk(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.b, w.lbl FROM walk w JOIN edges e ON e.a = w.id WHERE w.lbl < e.b),
cc AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id)
SELECT c.id AS doc_id, c.cluster_id, s.cluster_size
FROM cc c JOIN (SELECT cluster_id, count(*) AS cluster_size
                FROM cc GROUP BY cluster_id) s USING (cluster_id)"""


def _curate_funnel_oracle_sql(min_quality: float = 0.3) -> str:
    """DuckDB twin of the WHOLE curate funnel (cli.py `curate` /
    operators composed by q_curate_funnel): quality filter (the
    text_analyze quality-score expression, rounded like the engine
    column) -> exact dedup (min doc_id per md5 digest) -> md5
    MinHash-LSH pairs over the SURVIVORS (_minhash_oracle_sql with
    source=ex) -> recursive-CTE connected components -> drop non-
    canonical members -> portable stratified sample — reduced to ONE
    row of stage counts. Every stage twin is the same SQL already
    proven hash-exact standalone (text_analyze, dedup_exact,
    minhash_lsh, dup_clusters, stratified_sample); this row proves the
    COMPOSITION end-to-end."""
    pairs = _minhash_oracle_sql(k=32, bands=8, n=3, threshold=0.5, source="ex")
    case = " ".join(
        f"WHEN '{k}' THEN {v!r}" for k, v in sorted(SAMPLE_RATES.items())
    )
    return f"""
WITH RECURSIVE t AS (
  SELECT doc_id, text, lang,
         list_distinct(string_split(text, ' ')) AS dtk,
         len(string_split(text, ' ')) AS ntok,
         length(text) AS nch
  FROM documents),
s AS (
  SELECT *,
         (nch - (ntok - 1)) / CAST(ntok AS DOUBLE) AS mean_tok,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / nch AS alpha,
         CAST(len(dtk) AS DOUBLE) / ntok AS distinct_ratio
  FROM t),
q AS MATERIALIZED (
  SELECT doc_id, text, lang FROM s
  WHERE round(CASE WHEN ntok >= 50 AND ntok <= 100000 THEN 0.4 ELSE 0.0 END
              + CASE WHEN mean_tok >= 3 AND mean_tok <= 12 THEN 0.3 ELSE 0.0 END
              + CASE WHEN alpha >= 0.6 THEN 0.2 ELSE 0.0 END
              + CASE WHEN distinct_ratio >= 0.1 THEN 0.1 ELSE 0.0 END, 6)
        >= {min_quality!r}),
ex AS MATERIALIZED (
  SELECT doc_id, text, lang FROM q
  WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY md5(text))),
pairs AS MATERIALIZED ({pairs}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT a AS id FROM edges),
walk(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.b, w.lbl FROM walk w JOIN edges e ON e.a = w.id WHERE w.lbl < e.b),
cc AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
near AS MATERIALIZED (
  SELECT * FROM ex
  WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)),
samp AS (
  SELECT doc_id FROM (
    SELECT doc_id, CASE lang {case} ELSE 0.0 END AS rate,
           CAST('0x' || substring(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) % 1000000 AS u
    FROM near)
  WHERE u < CAST(round(rate * 1000000, 0) AS BIGINT))
SELECT (SELECT count(*) FROM documents) AS n_in,
       (SELECT count(*) FROM q) AS n_quality,
       (SELECT count(*) FROM ex) AS n_exact,
       (SELECT count(*) FROM near) AS n_near,
       (SELECT count(*) FROM samp) AS n_sampled"""


def _ngram_topk_oracle_sql(n: int = 3, k: int = 5) -> str:
    """DuckDB twin of corpus.ngram_topk: identical distinct-per-doc
    shingling (dedup.shingles_col semantics), document-frequency count
    and (df desc, gram asc) total-order ranking."""
    return f"""
WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
shg AS (
  SELECT doc_id, lang, list_distinct(list_transform(
           range(1, greatest(len(tk) - {n - 1}, 1) + 1),
           i -> array_to_string(list_slice(tk, i, i + {n - 1}), ' '))) AS sh
  FROM toks),
cnt AS (
  SELECT lang, gram, count(*) AS df_count
  FROM (SELECT lang, unnest(sh) AS gram FROM shg)
  GROUP BY lang, gram)
SELECT lang, gram, df_count, CAST(rn AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY lang
            ORDER BY df_count DESC, gram ASC) AS rn
  FROM cnt) WHERE rn <= {k}"""


def _stratified_sample_oracle_sql(rates: dict[str, float], salt: str = "strat") -> str:
    """DuckDB twin of corpus.stratified_sample: same md5 unit hash
    (first 15 hex chars mod 1e6) and per-stratum threshold."""
    case = " ".join(f"WHEN '{k}' THEN {v!r}" for k, v in sorted(rates.items()))
    return f"""
SELECT doc_id, lang, round(1.0 / rate, 6) AS weight FROM (
  SELECT doc_id, lang, CASE lang {case} ELSE 0.0 END AS rate,
         CAST('0x' || substring(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 1000000 AS u
  FROM documents)
WHERE u < CAST(round(rate * 1000000, 0) AS BIGINT)"""


def _golden_sql(name: str) -> str:
    """Golden-table oracle for queries whose algorithm plain SQL cannot
    restate (GVI scorer, isochrone, media decode): an INDEPENDENT
    scalar implementation (tests/oracle.py ports; see
    tools/make_golden.py) is materialized as parquet per sf directory
    and the oracle simply selects it, so the driver's value-hash gate
    compares engine output against independently computed values.

    The driver runs at sf0.01 (the default); tools/check_contract.py
    points SPARK_GRAFT_ORACLE_SF_DIR at whatever sf it checks."""
    from tools.make_golden import ensure_golden

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    path = ensure_golden(name, sf_dir)
    return f"SELECT * FROM read_parquet('{path}')"


# --------------------------------------------------------------- queries
def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = D.spark_pages(spark, sf_dir)
    return pages.groupBy("tile_x", "tile_y").agg(F.count(F.lit(1)).alias("n_pages"))


def q_cell_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = D.spark_pages(spark, sf_dir)
    return (
        pages.groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .orderBy(F.desc("n_pages"), F.asc("cell_id"))
        .limit(20)
    )


def q_knn_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.spark_gvi(spark, sf_dir).select(
        "point_id", "page_url", "snap_distance", "is_panoramic", "missing"
    )


HEX_SIZE = 500.0  # tile_assign_hex cell size (meters in derived space)


def q_tile_assign_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex-cell assignment rollup (SURVEY J2 H3 variant): pandas-UDF
    hex index over the derived pages, exact DuckDB twin via
    geo/hexgrid.hex_cell_sql_ctes."""
    from streetview_naturevisibility_spark.geo.hexgrid import make_hex_cell_udf

    pages = D.spark_pages(spark, sf_dir)
    hex_udf = make_hex_cell_udf(HEX_SIZE)
    return (
        pages.withColumn("hex_cell", hex_udf(F.col("x"), F.col("y")))
        .groupBy("hex_cell")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def q_knn_snap_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex-ring-pruned kNN snap — must reproduce the square-cell snap
    assignments EXACTLY (same oracle as knn_snap)."""
    from streetview_naturevisibility_spark.operators.knn import knn_snap_hex

    pages = D.spark_pages(spark, sf_dir)
    points = D.spark_points(spark, sf_dir)
    snapped = knn_snap_hex(
        points, pages, max_distance=2 * D.SNAP_RADIUS, hex_size=D.SNAP_RADIUS
    )
    return snapped.select(
        "point_id",
        "page_url",
        F.when(F.col("page_url") == "", F.lit(None).cast("double"))
        .otherwise(F.round(F.col("snap_distance"), 6))
        .alias("snap_distance"),
        "is_panoramic",
    )


def q_gvi_per_road(spark: SparkSession, sf_dir: str) -> DataFrame:
    gvi = D.spark_gvi(spark, sf_dir)
    per = agg.gvi_per_road(gvi)
    return per.select(
        "road_id",
        F.round("avg_gvi", 6).alias("avg_gvi"),
        "null_points_count",
        "total_points",
    )


def q_roads_gvi_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    roads = D.spark_roads_dim(spark, sf_dir)
    per = agg.gvi_per_road(D.spark_gvi(spark, sf_dir))
    out = agg.roads_with_avg_gvi(roads, per)
    return out.select(
        "road_id",
        "length",
        "highway",
        F.round("avg_gvi", 6).alias("avg_gvi"),
        "null_points_count",
        "total_points",
    )


def q_pipeline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's four 1-row metric reports (missing/panoramic/
    availability/usability — modules/metrics.py) as ONE wide 1-row
    contract query: the grading driver records at most 50 queries, so
    the four aggregate families share one slot (each metric column is
    still value-hash-checked; shared columns like total_points /
    total_images / road_length_km are emitted once). The individual
    operators remain the public API (operators/aggregates.py) and keep
    their own pytest coverage.

    r7: the shared gvi frame is materialized — it is a full snap join
    (spark_gvi), and the four independent 1-row aggregates otherwise
    each re-run it (4 snap evaluations per query; measured 2.6 s ->
    ~1.3 s at sf0.1). Identical rows feed identical aggregates — the
    oracle hash is unchanged."""
    gvi, _ = materialize(D.spark_gvi(spark, sf_dir))
    m = agg.missing_images_metrics(gvi).select(
        "unavailable",
        "unsuitable",
        "total_null",
        F.round("proportion_null", 6).alias("proportion_null"),
        "total_points",
    )
    p = agg.panoramic_images_metrics(gvi).select(
        "panoramic_count",
        "total_images",
        F.round("proportion_panoramic", 6).alias("proportion_panoramic"),
    )
    a = agg.availability_score(gvi).select(
        F.col("gvi_points").alias("avail_gvi_points"),
        F.round("road_length_km", 6).alias("road_length_km"),
        F.round("availability_score", 6).alias("availability_score"),
        F.round("adjusted_availability_score", 6).alias("adjusted_availability_score"),
    )
    u = agg.usability_score(gvi).select(
        F.col("gvi_points").alias("usab_gvi_points"),
        F.round("usability_score", 6).alias("usability_score"),
        F.round("adjusted_usability_score", 6).alias("adjusted_usability_score"),
    )
    return m.crossJoin(p).crossJoin(a).crossJoin(u)


def q_highway_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = agg.unavailable_images_per_highway(D.spark_gvi(spark, sf_dir))
    return out.select(
        "highway", "total_null", F.round("proportion_null", 6).alias("proportion_null")
    )


def q_top5_highways(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = agg.unavailable_images_per_highway(D.spark_gvi(spark, sf_dir))
    return agg.top5_highways(per).select("highway", "total_null")


def q_pip_hexagon(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = D.spark_pages(spark, sf_dir)
    hexagon = D.hex_polygon()
    inside = make_pip_flag_udf(coords_to_wkt(hexagon, "POLYGON"))
    return (
        pages.where(inside(F.col("x"), F.col("y")))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup: per-coarse-cell page counts computed by
    walking the quadtree UP from z14 cells (geo/cells.cell_parent_col).
    The oracle computes z10 tiles independently from lon/lat — the two
    must agree exactly (floor(x/2^4) of a z14 tile == the z10 tile)."""
    from streetview_naturevisibility_spark.geo.cells import cell_parent_col

    pages = D.spark_pages(spark, sf_dir)
    return (
        pages.withColumn("coarse_cell", cell_parent_col(F.col("cell_id"), 4))
        .groupBy("coarse_cell")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def q_zonal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    points = D.spark_points(spark, sf_dir)
    grid = D.spark_grid(spark, sf_dir)
    return zonal_mean(points, grid, radius=D.ZONAL_RADIUS)


def q_zonal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal histogram (reference A9: per-class percentage strings,
    modules/availability.py:960-969)."""
    from streetview_naturevisibility_spark.operators.zonal import zonal_histogram

    points = D.spark_points(spark, sf_dir)
    grid = D.spark_grid(spark, sf_dir).withColumn(
        "lc_class", (F.col("value") > 0.5).cast("int")
    )
    return zonal_histogram(points, grid, "lc_class", radius=D.ZONAL_RADIUS)


def q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume semantics: input MINUS already-done ids as a left-anti
    join (reference S6/S10 resume, SURVEY.md §2.3)."""
    points = D.spark_points(spark, sf_dir)
    done = points.where(F.col("point_id") % 3 == 0).select("point_id")
    return points.join(done, "point_id", "left_anti").select("point_id", "road_id")


def q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV-shard union + dedup-by-id first-wins (reference U1 + O4,
    scripts/get_gvi_gpkg.py:18-42)."""
    from pyspark.sql import Window

    pages = D.spark_pages(spark, sf_dir)
    s1 = pages.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("id"), F.lit(1).alias("shard"), F.col("gvi0").alias("v")
    )
    s2 = pages.where(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("id"),
        F.lit(2).alias("shard"),
        (F.col("gvi0") + F.lit(1.0)).alias("v"),
    )
    u = s1.unionByName(s2)
    w = Window.partitionBy("id").orderBy("shard")
    return (
        u.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("id", "shard", F.round("v", 6).alias("v"))
    )


def q_validity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse-check validity filter (reference P4,
    scripts/get_gvi_gpkg.py:32-39)."""
    pages = D.spark_pages(spark, sf_dir)
    s = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit("x"), F.col("doc_id").cast("string")),
    ).otherwise(F.col("doc_id").cast("string"))
    return (
        pages.withColumn("s", s)
        .where(F.col("s").try_cast("double").isNotNull())
        .select("doc_id", "s")
    )


def q_bbox_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounding-box filter + id range slice (reference P3 + P6)."""
    pages = D.spark_pages(spark, sf_dir)
    return pages.where(
        F.col("x").between(1000.0, 4000.0)
        & F.col("y").between(2000.0, 8000.0)
        & (F.col("doc_id") >= 100)
        & (F.col("doc_id") < 2000)
    ).select("doc_id", "lang", F.round("x", 6).alias("x"), F.round("y", 6).alias("y"))


def q_gap_fill_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill regression (reference predict_missing_gvi.py:34-87):
    OLS gvi ~ ndvi on known rows, predict missing, union."""
    from streetview_naturevisibility_spark.operators.regression import gap_fill_linear

    gvi = D.spark_gvi(spark, sf_dir)
    ndvi = (
        ((F.col("point_id") * D.ND_A + D.ND_B) % D.M32).cast("double")
        / F.lit(float(D.M32))
    ).alias("ndvi")
    df = gvi.select("point_id", "missing", "gvi", ndvi)
    out = gap_fill_linear(df, feature="ndvi", target="gvi", flag="missing")
    return out.select(
        "point_id", "missing", F.round("gvi_filled", 6).alias("gvi_filled")
    )


def q_gap_fill_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold CV RMSE/R²/AIC of the linear gap-fill (reference
    predict_missing_gvi.py:64-85 model-selection metrics)."""
    from streetview_naturevisibility_spark.operators.regression import (
        gap_fill_cv_metrics,
    )

    gvi = D.spark_gvi(spark, sf_dir)
    ndvi = (
        ((F.col("point_id") * D.ND_A + D.ND_B) % D.M32).cast("double")
        / F.lit(float(D.M32))
    ).alias("ndvi")
    df = gvi.select("point_id", "gvi", ndvi)
    m = gap_fill_cv_metrics(df, feature="ndvi", target="gvi", folds=5)
    return m.select(
        "n_known",
        F.round("avg_rmse", 6).alias("avg_rmse"),
        F.round("avg_r2", 6).alias("avg_r2"),
        F.round("aic", 6).alias("aic"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash over documents."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.col("text")).alias("text_md5")).agg(
        F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper")
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality stats per document."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(
            (F.length("text") - (n_tokens - 1)) / n_tokens.cast("double"), 6
        ).alias("avg_token_len"),
    )


def q_lang_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


def q_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed token-set Jaccard near-dup pairs."""
    from streetview_naturevisibility_spark.operators.dedup import token_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    return token_jaccard_pairs(docs, threshold=0.6)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs — oracle-exact via the portable md5
    shingle hash (hash_method="md5"): the DuckDB twin reproduces the
    entire pipeline (shingling, 32 permutations, 8-band bucketing,
    candidate join, exact Jaccard verify). The xxhash64 fast path keeps
    its brute-force pytest oracle."""
    from streetview_naturevisibility_spark.operators.dedup import minhash_lsh_pairs

    docs = load(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, k=32, bands=8, jaccard_threshold=0.5, hash_method="md5"
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — oracle-exact via the portable md5
    60-bit column-algebra signature (hash_method="md5"); the fnv64
    NumPy fast path keeps its popcount pytest oracle."""
    from streetview_naturevisibility_spark.operators.dedup import simhash_near_dups

    docs = load(spark, sf_dir, "documents")
    return simhash_near_dups(docs, max_hamming=3, hash_method="md5")


def q_text_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID + quality scoring + token counting."""
    from streetview_naturevisibility_spark.operators.textops import (
        lang_id_col,
        quality_score_cols,
        token_count_col,
    )

    docs = load(spark, sf_dir, "documents")
    cols = quality_score_cols("text")
    return docs.select(
        "doc_id",
        lang_id_col("text").alias("lang_pred"),
        cols["n_tokens"].alias("n_tokens"),
        token_count_col("text", "bpe").alias("n_bpe_pieces"),
        F.round(cols["mean_token_len"], 6).alias("mean_token_len"),
        F.round(cols["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(cols["distinct_token_ratio"], 6).alias("distinct_token_ratio"),
        F.round(cols["quality_score"], 6).alias("quality_score"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint — oracle-exact via the
    portable 43-bit JVM-HOF form (fingerprint_col); the uint64 NumPy
    fast path (fingerprint_udf) keeps its exact pytest value oracle."""
    from streetview_naturevisibility_spark.operators.textops import fingerprint_col

    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_col("text").alias("fingerprint"))


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: connected components over the MinHash-LSH
    near-dup pairs (canonical final stage of web-scale dedup). The
    DuckDB twin reruns the full portable LSH pipeline and closes the
    components with a recursive CTE — oracle-exact end to end."""
    from streetview_naturevisibility_spark.operators.corpus import duplicate_clusters
    from streetview_naturevisibility_spark.operators.dedup import minhash_lsh_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, k=32, bands=8, jaccard_threshold=0.5, hash_method="md5"
    )
    return duplicate_clusters(pairs)


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding in long form (label, pos, centroid)."""
    from streetview_naturevisibility_spark.operators.corpus import label_centroids

    emb = load(spark, sf_dir, "embeddings")
    return label_centroids(emb, "label", "embedding")


def q_char_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles of doc length per lang."""
    from streetview_naturevisibility_spark.operators.corpus import percentile_rollup

    docs = load(spark, sf_dir, "documents")
    return percentile_rollup(docs, "lang", "n_chars", ps=(0.5, 0.9, 0.99))


SAMPLE_RATES = {"en": 0.25, "de": 0.5, "es": 0.75, "fr": 1.0, "zh": 0.1}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling with inverse-
    probability weights (portable md5 hash — reproducible across
    engines and cluster sizes, unlike seed-based df.sample)."""
    from streetview_naturevisibility_spark.operators.corpus import stratified_sample

    docs = load(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", SAMPLE_RATES, "doc_id").select(
        "doc_id", "lang", "weight"
    )


def q_curate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-corpus curate funnel (the composition `cli
    curate` runs) as one value-checked row of stage counts: quality
    filter -> exact dedup (min doc_id per md5 digest) -> md5 MinHash-
    LSH near-dup pairs over the survivors -> connected-component
    clustering -> keep-canonical -> portable stratified sample. Each
    stage's twin is already hash-exact standalone; this row proves the
    COMPOSITION (filters feeding LSH feeding CC feeding sampling)
    end-to-end against a single DuckDB restatement
    (_curate_funnel_oracle_sql)."""
    from streetview_naturevisibility_spark.operators.corpus import (
        dedup_keep_canonical,
        duplicate_clusters,
        stratified_sample,
    )
    from streetview_naturevisibility_spark.operators.dedup import minhash_lsh_pairs
    from streetview_naturevisibility_spark.operators.textops import analyze_documents

    docs = load(spark, sf_dir, "documents")
    # observe-then-filter: the filter stays above the analysis
    # projection, so each doc's quality features are derived once
    kept_q, _ = materialize(
        analyze_documents(docs, keep_input_cols=True),
        F.col("quality_score") >= F.lit(0.3),
    )
    digests = kept_q.withColumn("_digest", F.md5(F.col("text")))
    keepers = digests.groupBy("_digest").agg(F.min("doc_id").alias("doc_id"))
    exact = digests.join(keepers, ["_digest", "doc_id"], "left_semi").drop("_digest")
    pairs = minhash_lsh_pairs(
        exact, k=32, bands=8, jaccard_threshold=0.5, hash_method="md5"
    )
    clusters = duplicate_clusters(pairs)
    near = dedup_keep_canonical(exact, clusters)
    sampled = stratified_sample(near, "lang", SAMPLE_RATES, "doc_id")

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias(name))

    return (
        cnt(docs, "n_in")
        .crossJoin(cnt(kept_q, "n_quality"))
        .crossJoin(cnt(exact, "n_exact"))
        .crossJoin(cnt(near, "n_near"))
        .crossJoin(cnt(sampled, "n_sampled"))
    )


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly distinct-user rollup — the EXACT columns of the sketch
    rollup (operators/sketches.distinct_rollup); the HLL++ column is
    dropped here (approximate, not hash-comparable) and error-bounded
    in pytest instead."""
    from streetview_naturevisibility_spark.operators.sketches import distinct_rollup

    events = load(spark, sf_dir, "events")
    return distinct_rollup(events).select(
        "window_start", "n_events", "n_users_exact"
    )


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 token 3-grams per lang by document frequency with a total-
    order tie-break (vocabulary / contamination audit)."""
    from streetview_naturevisibility_spark.operators.corpus import ngram_topk

    docs = load(spark, sf_dir, "documents")
    return ngram_topk(docs, group_col="lang", n=3, k=5)


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    emb = load(spark, sf_dir, "embeddings")
    return list(emb.where(F.col("vec_id") == 0).first().embedding)


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embeddings table (JVM HOFs)."""
    from streetview_naturevisibility_spark.operators.similarity import brute_force_topk

    emb = load(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, _query_vector(spark, sf_dir), k=10)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k — oracle-exact: the hyperplanes
    are deterministic constants, so the DuckDB twin recomputes the
    signatures as literal-plane dot products and probes the same
    hamming<=1 buckets (recall vs brute force additionally in pytest)."""
    from streetview_naturevisibility_spark.operators.similarity import ann_topk_lsh

    emb = load(spark, sf_dir, "embeddings")
    return ann_topk_lsh(emb, _query_vector(spark, sf_dir), k=10, n_planes=6)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k — oracle-exact via PINNED literal
    centroids (similarity.ivf_topk_pinned): list assignment and probe
    selection are pure JVM Column expressions the DuckDB twin
    (_ivf_oracle_sql) restates verbatim; zero UDFs in the plan. The
    production k-means path (similarity.build_ivf_index) keeps its
    exact-cosine + determinism pytest oracle."""
    from streetview_naturevisibility_spark.operators.similarity import ivf_topk_pinned

    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk_pinned(
        emb, _query_vector(spark, sf_dir), k=10, n_lists=8, n_probe=2
    )


def q_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane buckets over the
    planted-duplicate view (sources/derived.spark_embeddings_aug) —
    oracle-exact: at threshold 0.95 the qualifying pairs are exactly
    the planted power-of-two clones, which the LSH finds with recall 1
    (identical signatures), so engine == brute-force DuckDB."""
    from streetview_naturevisibility_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    emb = D.spark_embeddings_aug(spark, sf_dir)
    return cosine_near_dup_pairs(emb, threshold=0.95, n_planes=6)


def q_edge_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional-edge dedup (reference O5,
    modules/osmnx_road_network.py:22-38): canonicalize (u,v) to
    (least, greatest), keep the first direction encountered in
    deterministic (u, v) order."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 100).alias("u"),
        (F.col("l_partkey") % 97).alias("v"),
    ).distinct()
    w = Window.partitionBy("cu", "cv").orderBy("u", "v")
    return (
        edges.withColumn("cu", F.least("u", "v"))
        .withColumn("cv", F.greatest("u", "v"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("u", "v")
    )


def q_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounds aggregate (reference A11: poi.total_bounds,
    modules/availability.py:122-126)."""
    pages = D.spark_pages(spark, sf_dir)
    return pages.agg(
        F.round(F.min("x"), 6).alias("min_x"),
        F.round(F.min("y"), 6).alias("min_y"),
        F.round(F.max("x"), 6).alias("max_x"),
        F.round(F.max("y"), 6).alias("max_y"),
    )


def q_overlay_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-overlay area ratio (reference J7) over the derived grid:
    'canopy' = grid cells with value > 0.5."""
    from streetview_naturevisibility_spark.operators.zonal import overlay_area_ratio

    points = D.spark_points(spark, sf_dir)
    grid = D.spark_grid(spark, sf_dir).withColumn(
        "canopy", (F.col("value") > 0.5).cast("int")
    )
    return overlay_area_ratio(points, grid, "canopy", 1, radius=D.ZONAL_RADIUS)


def q_gvi_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference GVI scorer (label grid, RLE, peaks, crops,
    modules/process_data.py:221-300) over documents.text — value-exact
    against the golden table computed by the INDEPENDENT scalar port
    (tests/oracle.oracle_gvi_score via tools/make_golden.py)."""
    from streetview_naturevisibility_spark.operators.gvi import make_gvi_udf

    docs = load(spark, sf_dir, "documents")
    gvi_udf = make_gvi_udf(cut_by_road_centres=False)
    return docs.select(
        "doc_id",
        gvi_udf(F.col("text"), (F.col("doc_id") % 5 == 0)).alias("r"),
    ).select(
        "doc_id",
        F.round("r.gvi", 6).alias("gvi"),
        F.col("r.is_panoramic").alias("is_panoramic"),
        F.col("r.missing").alias("missing"),
        F.col("r.error").alias("error"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode->feature pipeline: REAL binary-PGM payloads
    derived deterministically from doc_id, decoded by the pure-NumPy
    PNM decoder, histogram-embedded. Value-exact against the golden
    table (tools/make_golden.golden_media_features: independent scalar
    PGM synth + separate parser + recomputed bin-0 fraction), covering
    payload bytes (sha256), size, and the DECODED histogram feature;
    pytest additionally holds decode-roundtrip oracles."""
    from pyspark.sql.types import BinaryType

    from streetview_naturevisibility_spark.operators.multimodal import (
        image_features,
        synth_pgm,
        synth_png,
    )

    # even ids: binary PGM; odd ids: REAL zlib-compressed PNG (all 5
    # scanline filters exercised per image) — both decoded for real
    payload_udf = F.pandas_udf(
        lambda ids: ids.map(
            lambda i: bytearray(
                synth_pgm(int(i), w=24, h=16) if int(i) % 2 == 0 else synth_png(int(i), w=24, h=16)
            )
        ),
        BinaryType(),
    )

    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        payload_udf(F.col("doc_id")).alias("payload"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("image/x-portable-graymap"))
        .otherwise(F.lit("image/png"))
        .alias("mime"),
        F.lit(24).alias("width"),
        F.lit(16).alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    return image_features(media).select(
        "media_id",
        "n_bytes",
        "sha256",
        # first histogram bin (pixels in [0,16) / size, float32) — a
        # real decoded-value feature the golden recomputes independently
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("bin0_frac"),
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MJPEG-in-MP4 video pipeline, end-to-end REAL: deterministic
    uniform-luma JPEG frames (functions/jpegcodec.encode_jpeg) muxed
    with true ISO BMFF sample tables (functions/mp4box.encode_mp4),
    then container-parsed, frame-sampled, and PIXEL-decoded by the
    engine (operators/multimodal.video_frame_features). Uniform grids
    are DC-only and roundtrip the codec EXACTLY (pytest verifies all
    256 values), so the golden table states the decoded mean/std
    ANALYTICALLY — fully independent of both codec implementations.
    Gradient frames (full AC path) are covered by roundtrip pytest."""
    from pyspark.sql.types import BinaryType

    from streetview_naturevisibility_spark.operators.multimodal import (
        synth_mp4,
        video_frame_features,
    )

    payload_udf = F.pandas_udf(
        lambda ids: ids.map(lambda i: bytearray(synth_mp4(int(i), uniform=True))),
        BinaryType(),
    )
    docs = load(spark, sf_dir, "documents")
    media = docs.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        payload_udf(F.col("doc_id")).alias("payload"),
        F.lit("video/mp4").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(3000).alias("duration_ms"),
    )
    return video_frame_features(media, every_ms=1000).select(
        "media_id",
        "frame_idx",
        "t_ms",
        "codec",
        F.round(F.col("mean_luma").cast("double"), 6).alias("mean_luma"),
        F.round(F.col("std_luma").cast("double"), 6).alias("std_luma"),
    )


def q_isochrone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isochrone union areas (reference F6, availability.py:937-958)
    over a derived street graph — value-exact against the golden table
    computed by the brute-force oracle (tests/oracle.
    oracle_isochrone_cells: plain-dict Dijkstra + scalar segment
    distances + BFS exterior fill, over the DuckDB twin of the derived
    points)."""
    from streetview_naturevisibility_spark.operators.isochrone import (
        isochrone_area,
        isochrone_cells,
    )

    pts = D.spark_points(spark, sf_dir).where(F.col("point_id") <= 60)
    nodes = pts.select(F.col("point_id").alias("node_id"), "x", "y")
    edges = nodes.select(
        F.col("node_id").alias("u"), (F.col("node_id") + 1).alias("v")
    ).where(F.col("v") <= 60)
    pois = pts.where(F.col("point_id") % 20 == 5).select(
        F.col("point_id").alias("poi_id"), "x", "y"
    )
    iso = isochrone_cells(
        pois, nodes, edges, buffer_dist=15000.0, edge_buff=400.0, grid=200.0
    )
    return isochrone_area(iso, grid=200.0)


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the events stream table."""
    ev = load(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (gaps-and-islands; the batch twin of
    the applyInPandasWithState streaming operator)."""
    from streetview_naturevisibility_spark.streaming.sessions import sessionize_batch

    ev = load(spark, sf_dir, "events")
    out = sessionize_batch(ev, gap_seconds=1800)
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (general OLAP capability).

    Money columns are 2-decimal values stored as doubles; aggregating them
    as doubles is summation-order-dependent (the sf1 drive measured ~2e-4
    divergence vs DuckDB on ~6M-row group sums). Casting each input to
    DECIMAL first recovers the exact cents, makes every sum exact and
    order-independent at any scale, and the final cast back to double keeps
    the contract schema unchanged.
    """
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast("decimal(3,2)") - disc))
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum(disc).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(3,2)") - disc))
            .cast("double")
            .alias("revenue")
        )
    )
    return rev.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(10)


# =================================================================
# Round-6 rotation: the curation/selection operator family gets the
# hard driver-gate signal (fix_text, repetition, paragraph/chunk
# dedup, token budget, packing, DSIR, SemDeDup, classifier scoring,
# URL dedup). The ten round-1 single-expression rows they replace
# moved to retired_queries()/retired_oracle_sql(), gated by
# tests/test_retired_contract.py. Where the operator needs corpus
# structure the flat `documents` table lacks (mojibake, line/para
# layout, shared substrings, URLs), BOTH engines derive it with the
# same pinned textual transformation — the sources/derived.py
# contract, applied to text.
# =================================================================
from streetview_naturevisibility_spark.operators.textops import (  # noqa: E402
    _SPACES as _FT_SPACES,
)
from streetview_naturevisibility_spark.operators.textops import (  # noqa: E402
    MOJIBAKE_TABLE as _FT_TABLE,
)

# corruption plan (doc_id % 3): 0 -> mojibake 'the'->'thÃ©';
# 1 -> control char + stray-marker tail; 2 -> already clean
_FT_MOJI_BAD = "thÃ©"
_FT_TAIL = "\x01 tailÂ end"  # repairs to ' tail end'


def q_fix_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fix_text over a deterministically corrupted documents view:
    mojibake restored, control chars stripped, stray marker removed,
    clean docs pass through with changed=false."""
    from streetview_naturevisibility_spark.operators.textops import fix_text

    docs = load(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    corrupted = (
        F.when(m == 0, F.replace(F.col("text"), F.lit("the"), F.lit(_FT_MOJI_BAD)))
        .when(m == 1, F.concat(F.col("text"), F.lit(_FT_TAIL)))
        .otherwise(F.col("text"))
    )
    return fix_text(docs.select("doc_id", corrupted.alias("text")))


def _fix_text_oracle_sql() -> str:
    expr = "text"
    for bad, good in _FT_TABLE:
        b = bad.replace("'", "''")
        g = good.replace("'", "''")
        expr = f"replace({expr}, '{b}', '{g}')"
    plain = "'" + " " * len(_FT_SPACES) + "'"
    expr = f"translate({expr}, '{_FT_SPACES}', {plain})"
    expr = (
        f"regexp_replace({expr}, "
        "'[\\x00-\\x08\\x0b-\\x1f\\x7f-\\x9f]', '', 'g')"
    )
    expr = (
        f"regexp_replace({expr}, "
        "'Â([\\s\\x{00A0}-\\x{00BF}[:punct:]])', '\\1', 'g')"
    )
    return f"""
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN replace(text, 'the', '{_FT_MOJI_BAD}')
              WHEN doc_id % 3 = 1 THEN text || chr(1) || ' tailÂ end'
              ELSE text END AS text
  FROM documents)
SELECT doc_id, {expr} AS text_fixed,
       {expr} IS DISTINCT FROM text AS changed
FROM src"""


def q_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals over a LINED documents view (tokens
    re-joined two per line, so duplicate-line features have real
    support at the ~30-word vocabulary)."""
    from streetview_naturevisibility_spark.operators.textops import (
        repetition_signals,
    )

    docs = load(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(1), F.size(tk), F.lit(2))
    lined = F.array_join(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, 2))),
        "\n",
    )
    return repetition_signals(docs.select("doc_id", lined.alias("text")))


def _repetition_oracle_sql() -> str:
    # independent formulation on purpose: the twin computes the
    # duplicate-line char sum with the per-distinct-line filter scan
    # and the gram coverage with a group-by — the engine uses
    # sorted-run passes; values must still agree exactly
    top_ns = (2, 3, 4)
    ns = ", ".join(str(n) for n in top_ns)
    covs = ", ".join(
        f"max(CASE WHEN n = {n} THEN cnt * strlen(g) END) AS cov{n}"
        for n in top_ns
    )
    outs = ", ".join(
        f"CASE WHEN lf.n_chars > 0 THEN coalesce(cov.cov{n}, 0) / CAST(lf.n_chars AS DOUBLE) "
        f"ELSE 0.0 END AS top{n}gram_char_frac"
        for n in top_ns
    )
    return f"""
WITH src AS (
  SELECT doc_id,
         array_to_string(
           [array_to_string(t0[i:i+1], ' ')
            FOR i IN generate_series(1, len(t0), 2)], chr(10)) AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS t0 FROM documents)),
d AS (
  SELECT doc_id, strlen(text) AS n_chars,
         string_split(text, chr(10)) AS lines,
         string_split(text, ' ') AS t
  FROM src),
lf AS (
  SELECT doc_id, n_chars, len(lines) AS n_lines,
    (len(lines) - len(list_distinct(lines))) / CAST(len(lines) AS DOUBLE)
      AS dup_line_frac,
    list_sum(list_transform(lines, x -> strlen(x))) AS line_chars,
    list_sum(list_transform(list_distinct(lines),
      l -> (len(list_filter(lines, x -> x = l)) - 1) * strlen(l)))
      AS dup_chars
  FROM d),
g AS (
  SELECT doc_id, n, array_to_string(t[i:i+n-1], ' ') AS g
  FROM d, UNNEST([{ns}]) AS nn(n),
       UNNEST(generate_series(1, len(t) - n + 1)) AS ii(i)),
cnts AS (
  SELECT doc_id, n, g, count(*) AS cnt FROM g
  GROUP BY doc_id, n, g HAVING count(*) >= 2),
cov AS (SELECT doc_id, {covs} FROM cnts GROUP BY doc_id)
SELECT lf.doc_id, CAST(lf.n_lines AS INTEGER) AS n_lines, lf.dup_line_frac,
  CASE WHEN lf.line_chars > 0
       THEN lf.dup_chars / CAST(lf.line_chars AS DOUBLE)
       ELSE 0.0 END AS dup_line_char_frac,
  {outs}
FROM lf LEFT JOIN cov ON lf.doc_id = cov.doc_id"""


_PAR_BOILER = "subscribe to our newsletter today"
_PAR_FOOTER = "all rights reserved worldwide"
_PAR_SEP_SQL = "('' || chr(10) || '' || chr(10) || '')"


def q_paragraph_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level paragraph dedup over documents with two planted
    cross-doc boilerplate paragraphs (doc_id % 2 / % 5): every
    common paragraph is removed from EVERY doc, order preserved."""
    from streetview_naturevisibility_spark.operators.textops import (
        paragraph_dedup,
    )

    docs = load(spark, sf_dir, "documents")
    text2 = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("\n\n" + _PAR_BOILER)).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit("\n\n" + _PAR_FOOTER)).otherwise(
            F.lit("")
        ),
    )
    return paragraph_dedup(docs.select("doc_id", text2.alias("text")))


def _paragraph_oracle_sql() -> str:
    return f"""
WITH src AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 2 = 0
                 THEN chr(10) || chr(10) || '{_PAR_BOILER}' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || chr(10) || '{_PAR_FOOTER}' ELSE '' END AS text
  FROM documents),
p AS (
  SELECT doc_id, i AS pos, parts[i] AS para
  FROM (SELECT doc_id, string_split(text, {_PAR_SEP_SQL}) AS parts FROM src),
       UNNEST(generate_series(1, len(parts))) AS u(i)),
common AS (
  SELECT para FROM p GROUP BY para HAVING count(DISTINCT doc_id) > 1),
kept AS (SELECT * FROM p WHERE para NOT IN (SELECT para FROM common)),
reb AS (
  SELECT doc_id, string_agg(para, {_PAR_SEP_SQL} ORDER BY pos) AS text_deduped,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_paras FROM p GROUP BY doc_id)
SELECT t.doc_id, coalesce(r.text_deduped, '') AS text_deduped,
       t.n_paras, t.n_paras - coalesce(r.n_kept, 0) AS n_removed
FROM tot t LEFT JOIN reb r USING (doc_id)"""


# exactly 40 chars = two 20-char chunks shared by every doc
_CHUNK_HDR = "shared-corpus-header-0123456789abcdefghi"[:40]
assert len(_CHUNK_HDR) == 40


def q_chunk_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRO-chunk exact substring dedup over documents carrying a
    shared 40-char header (= two 20-char chunks duplicated across the
    whole corpus; the min-(doc_id,pos) canonical survives)."""
    from streetview_naturevisibility_spark.operators.textops import chunk_dedup

    docs = load(spark, sf_dir, "documents")
    return chunk_dedup(
        docs.select(
            "doc_id", F.concat(F.lit(_CHUNK_HDR), F.col("text")).alias("text")
        ),
        chunk_chars=20,
    )


def _chunk_oracle_sql() -> str:
    L = 20
    return f"""
WITH src AS (
  SELECT doc_id, '{_CHUNK_HDR}' || text AS text FROM documents),
d AS (
  SELECT doc_id, text, strlen(text) // {L} AS nf FROM src),
ch AS (
  SELECT doc_id, i AS pos,
         substring(text, CAST(i * {L} + 1 AS INT), {L}) AS chunk,
         md5(substring(text, CAST(i * {L} + 1 AS INT), {L})) AS ck
  FROM d, UNNEST(generate_series(0, CAST(nf AS BIGINT) - 1)) AS t(i)),
dup AS (
  SELECT ck, min(doc_id * 2147483648 + pos) AS canon
  FROM ch GROUP BY ck HAVING count(*) > 1),
kill AS (
  SELECT doc_id, pos FROM ch JOIN dup USING (ck)
  WHERE doc_id * 2147483648 + pos != canon),
kept AS (
  SELECT ch.doc_id,
         string_agg(chunk, '' ORDER BY ch.pos) AS body,
         count(*) AS n_kept
  FROM ch LEFT JOIN kill
    ON ch.doc_id = kill.doc_id AND ch.pos = kill.pos
  WHERE kill.pos IS NULL
  GROUP BY ch.doc_id)
SELECT d.doc_id,
       coalesce(kept.body, '') ||
         substring(d.text, CAST(d.nf * {L} + 1 AS INT)) AS text_deduped,
       coalesce(d.nf, 0) AS n_chunks,
       coalesce(d.nf, 0) - coalesce(kept.n_kept, 0) AS n_removed
FROM d LEFT JOIN kept ON d.doc_id = kept.doc_id"""


TB_BUDGETS = {"en": 5000, "de": 2000}
TB_DEFAULT = 1500


def q_token_budget_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing per language (bucketed two-phase
    method — the oracle is the single-window restatement it must
    recompose to bit-identically). Quality derives from doc_id with
    pinned integer arithmetic so both engines order identically."""
    from streetview_naturevisibility_spark.operators.corpus import (
        token_budget_select,
    )

    docs = load(spark, sf_dir, "documents")
    q = ((F.col("doc_id") * 37) % 101).cast("double") / F.lit(100.0)
    d2 = docs.select("doc_id", "text", "lang", q.alias("quality_score"))
    out = token_budget_select(d2, TB_BUDGETS, default_budget=TB_DEFAULT)
    return out.select("doc_id", "lang", "quality_score", "n_tokens")


def _token_budget_oracle_sql() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {int(v)}" for k, v in sorted(TB_BUDGETS.items())
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         ((doc_id * 37) % 101) / 100.0 AS quality_score,
         coalesce(len(string_split(text, ' ')), 0) AS n_tokens
  FROM documents),
c AS (
  SELECT *, SUM(n_tokens) OVER (
    PARTITION BY lang
    ORDER BY quality_score DESC NULLS LAST, doc_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t)
SELECT doc_id, lang, quality_score, CAST(n_tokens AS BIGINT) AS n_tokens
FROM c
WHERE cum <= (CASE lang {cases} ELSE {TB_DEFAULT} END)"""


PACK_BUDGET = 512


def q_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: contiguous id-order bin assignment via the
    bucketed exclusive-prefix-sum decomposition (the oracle is the
    single global window it must equal exactly)."""
    from streetview_naturevisibility_spark.operators.corpus import (
        pack_assignments,
    )

    docs = load(spark, sf_dir, "documents")
    return pack_assignments(docs, budget_tokens=PACK_BUDGET)


def _pack_oracle_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id,
                  coalesce(len(string_split(text, ' ')), 0) AS n_tokens
           FROM documents),
c AS (SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM t)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor(before / {PACK_BUDGET}) AS BIGINT) AS bin_id
FROM c"""


DSIR_B = 2000


def q_dsir_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights with target = the English slice of the
    same corpus (the published target-subset-of-raw setup)."""
    from streetview_naturevisibility_spark.operators.textops import dsir_score

    docs = load(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en").select("text")
    return dsir_score(docs, target, n_buckets=DSIR_B)


def _dsir_oracle_sql() -> str:
    B = DSIR_B
    bucket = "CAST('0x' || substring(md5({g}), 1, 15) AS BIGINT) % " + str(B)
    bi_gram = "t[i] || ' ' || t[i+1]"
    feats = (
        "list_concat("
        f"  list_transform(t, w -> {bucket.format(g='w')}),"
        f"  [{bucket.format(g=bi_gram)}"
        "    FOR i IN generate_series(1, len(t) - 1)])"
    )
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
           WHERE text IS NOT NULL),
tg AS (SELECT string_split(text, ' ') AS t FROM documents
       WHERE text IS NOT NULL AND lang = 'en'),
dfeat AS (SELECT doc_id, unnest({feats}) AS b FROM d),
tfeat AS (SELECT unnest({feats}) AS b FROM tg),
ct AS (SELECT b, count(*) AS c FROM tfeat GROUP BY b),
cr AS (SELECT b, count(*) AS c FROM dfeat GROUP BY b),
tt AS (SELECT coalesce(sum(c), 0) AS T FROM ct),
tr AS (SELECT coalesce(sum(c), 0) AS T FROM cr)
SELECT doc_id,
       round(sum(
           ln((coalesce(ct.c, 0) + 1.0) / (tt.T + 1.0 * {B}))
         - ln((coalesce(cr.c, 0) + 1.0) / (tr.T + 1.0 * {B}))
       ), 6) AS dsir_logweight,
       count(*) AS n_feats
FROM dfeat
LEFT JOIN ct USING (b)
LEFT JOIN cr USING (b)
CROSS JOIN tt CROSS JOIN tr
GROUP BY doc_id"""


SD_THRESHOLD = 0.95


def q_semdedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the planted-duplicate embedding view
    (sources/derived.spark_embeddings_aug): the 2x-scaled clones have
    pair cosine exactly 1.0 and bit-equal centroid cosine, so at
    threshold 0.95 exactly the clones die, by the lower-id tie-break."""
    from streetview_naturevisibility_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = D.spark_embeddings_aug(spark, sf_dir)
    return semantic_dedup(emb, threshold=SD_THRESHOLD)


def _semdedup_oracle_sql(
    threshold: float = SD_THRESHOLD,
    n_lists: int = 8,
    dim: int = 64,
    seed: int = 21,
) -> str:
    import numpy as np

    from streetview_naturevisibility_spark.operators.similarity import (
        pinned_centroids,
    )

    cents = pinned_centroids(n_lists, dim, seed)
    lit = lambda c: "[" + ", ".join(repr(float(v)) for v in c) + "]"  # noqa: E731

    def sqd(vec, c):
        return (
            f"list_sum(list_transform(list_zip({vec}, {lit(c)}),"
            " p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"
        )

    def norm(vec):
        return (
            f"sqrt(list_sum(list_transform({vec},"
            " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        )

    def ccos(vec, c):
        nq = repr(float(np.sqrt(np.sum(np.asarray(c, dtype=np.float64) ** 2))))
        return (
            f"list_sum(list_transform(list_zip({vec}, {lit(c)}),"
            f" p -> CAST(p[1] AS DOUBLE) * p[2])) / ({norm(vec)} * {nq})"
        )

    dl = "[" + ",\n      ".join(sqd("embedding", c) for c in cents) + "]"
    ca = "[" + ",\n      ".join(ccos("embedding", c) for c in cents) + "]"
    paircos = (
        "list_sum(list_transform(list_zip(a.v, b.v),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        f" / ({norm('a.v')} * {norm('b.v')})"
    )
    return (
        D.with_clause(D.embeddings_aug_sql())
        + f""",
s0 AS (SELECT vec_id AS id, embedding AS v,
              {dl} AS dl, {ca} AS ca
       FROM emb_aug),
s AS (SELECT id, v,
             list_position(dl, list_min(dl)) - 1 AS list_id,
             ca[list_position(dl, list_min(dl))] AS ccos
      FROM s0),
dom AS (SELECT DISTINCT a.id
        FROM s a JOIN s b
          ON a.list_id = b.list_id AND a.id <> b.id
        WHERE {paircos} >= {threshold!r}
          AND (b.ccos > a.ccos OR (b.ccos = a.ccos AND b.id < a.id)))
SELECT id AS vec_id, CAST(list_id AS INT) AS list_id,
       round(ccos, 6) AS centroid_cos,
       id NOT IN (SELECT id FROM dom) AS kept
FROM s"""
    )


CLF_B = 512
CLF_BIAS = 0.25
_CLF_MIX = 2654435761  # Knuth multiplicative constant


def _pinned_clf_weights():
    import numpy as np

    b = np.arange(CLF_B, dtype=np.int64)
    return ((b * _CLF_MIX) % 2001 - 1000) / 1000.0


def q_clf_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quality-classifier scoring with a PINNED weight
    vector (w[b] derives from b with integer arithmetic both engines
    restate) — the broadcast-weights + one-margin-shuffle plan the
    trained path uses; training itself is pytest-gated (driver-side,
    not SQL-expressible)."""
    from streetview_naturevisibility_spark.operators.textops import (
        score_quality_classifier,
    )

    docs = load(spark, sf_dir, "documents")
    return score_quality_classifier(docs, _pinned_clf_weights(), bias=CLF_BIAS)


def _clf_oracle_sql() -> str:
    B = CLF_B
    bucket = "CAST('0x' || substring(md5({g}), 1, 15) AS BIGINT) % " + str(B)
    bi_gram = "t[i] || ' ' || t[i+1]"
    feats = (
        "list_concat("
        f"  list_transform(t, w -> {bucket.format(g='w')}),"
        f"  [{bucket.format(g=bi_gram)}"
        "    FOR i IN generate_series(1, len(t) - 1)])"
    )
    w_of_b = f"(((b * {_CLF_MIX}) % 2001 - 1000) / 1000.0)"
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
           WHERE text IS NOT NULL),
f0 AS (SELECT doc_id, {feats} AS fb FROM d),
df AS (SELECT doc_id, unnest(fb) AS b, 1.0 / len(fb) AS inv_n FROM f0)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-(sum({w_of_b} * inv_n) + {CLF_BIAS!r}))), 6)
         AS clf_prob
FROM df GROUP BY doc_id"""


def _url_src_spark(docs: DataFrame) -> DataFrame:
    pg = F.floor(F.col("doc_id") / 2).cast("long")
    dom = F.concat(
        F.lit("site"),
        (pg % 7).cast("string"),
        F.when(pg % 7 == 3, F.lit(".co.uk")).otherwise(F.lit(".com")),
    )
    url = (
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit("page-"), F.col("doc_id").cast("string"), F.lit("-relative.html")
            ),
        )
        .when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("https://"), dom, F.lit("/p/"), pg.cast("string"), F.lit("?q=1&b=2")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("HTTPS://user:pw@"),
                F.upper(dom),
                F.lit(":443/p/"),
                pg.cast("string"),
                F.lit("/?utm_source=x&b=2&q=1#frag"),
            )
        )
    )
    return docs.select("doc_id", url.alias("url"))


def q_url_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL alias-collapse dedup + registrable domain over URLs derived
    from doc_id (pairs of alias URLs — tracking params, userinfo,
    default port, case, trailing slash, fragment — plus scheme-less
    malformed rows that must ALL survive with NULL norm)."""
    from streetview_naturevisibility_spark.functions.url import (
        registrable_domain_col,
    )
    from streetview_naturevisibility_spark.operators.corpus import url_dedup

    docs = load(spark, sf_dir, "documents")
    kept = url_dedup(_url_src_spark(docs))
    return kept.select(
        "doc_id", "url_norm", registrable_domain_col("url").alias("domain")
    )


def _url_oracle_sql() -> str:
    from streetview_naturevisibility_spark.functions.url import (
        TWO_LABEL_SUFFIXES,
    )

    sfx = ", ".join(f"'{s}'" for s in TWO_LABEL_SUFFIXES)
    track = r"^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|ref)="
    return f"""
WITH src AS (
  SELECT doc_id,
    CASE WHEN doc_id % 11 = 0
           THEN 'page-' || CAST(doc_id AS VARCHAR) || '-relative.html'
         WHEN doc_id % 2 = 0
           THEN 'https://' || dom || '/p/' || CAST(pg AS VARCHAR) || '?q=1&b=2'
         ELSE 'HTTPS://user:pw@' || upper(dom) || ':443/p/'
              || CAST(pg AS VARCHAR) || '/?utm_source=x&b=2&q=1#frag'
    END AS url
  FROM (SELECT doc_id, doc_id // 2 AS pg,
               'site' || CAST((doc_id // 2) % 7 AS VARCHAR) ||
               CASE WHEN (doc_id // 2) % 7 = 3 THEN '.co.uk' ELSE '.com' END AS dom
        FROM documents)),
t AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
    lower(string_split(string_split(
      regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
      '@')[-1], ':')[1]) AS host,
    regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path0,
    regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM src),
n AS (
  SELECT doc_id, url, scheme, host,
    CASE WHEN strlen(path0) > 1 AND path0 LIKE '%/'
         THEN substring(path0, 1, strlen(path0) - 1)
         ELSE path0 END AS path,
    array_to_string(list_sort(list_filter(string_split(query, '&'),
      p -> strlen(p) > 0 AND NOT regexp_matches(p, '{track}')
    )), '&') AS qnorm
  FROM t),
d AS (SELECT doc_id, host, string_split(host, '.') AS parts FROM n),
d2 AS (
  SELECT doc_id, host, parts, len(parts) AS np,
    array_to_string(list_slice(parts, greatest(len(parts)-1, 1), len(parts)), '.') AS last2
  FROM d),
dm AS (
  SELECT doc_id,
    CASE WHEN host IS NULL OR host = '' THEN NULL
         WHEN np <= (CASE WHEN last2 IN ({sfx}) AND np >= 3 THEN 3 ELSE 2 END)
           THEN host
         ELSE array_to_string(list_slice(parts,
           np - (CASE WHEN last2 IN ({sfx}) AND np >= 3 THEN 3 ELSE 2 END) + 1, np), '.')
    END AS domain
  FROM d2),
sel AS (
  SELECT n.doc_id,
    CASE WHEN n.url IS NULL OR n.host = '' THEN NULL
         ELSE n.scheme || '://' || n.host || n.path ||
           (CASE WHEN strlen(n.qnorm) > 0 THEN '?' || n.qnorm ELSE '' END)
    END AS url_norm,
    dm.domain
  FROM n JOIN dm USING (doc_id)),
keepers AS (
  SELECT url_norm, min(doc_id) AS doc_id FROM sel
  WHERE url_norm IS NOT NULL GROUP BY url_norm)
SELECT s.doc_id, s.url_norm, s.domain FROM sel s
WHERE s.url_norm IS NULL
   OR EXISTS (SELECT 1 FROM keepers k
              WHERE k.url_norm = s.url_norm AND k.doc_id = s.doc_id)"""


# ---------------------------------------------------------------- oracle
def oracle_sql() -> dict[str, str]:
    hexagon = D.hex_polygon()
    hex_pred = halfplane_sql(hexagon, "x", "y")
    r2 = D.ZONAL_RADIUS * D.ZONAL_RADIUS
    geo = _geo_sql
    pages_only = lambda sel: D.with_clause(D.pages_sql()) + "\n" + sel  # noqa: E731
    return {
        "tile_assign": pages_only(
            "SELECT tile_x, tile_y, count(*) AS n_pages FROM pages GROUP BY tile_x, tile_y"
        ),
        "knn_snap": geo(
            "SELECT point_id, page_url, snap_distance, is_panoramic, missing FROM gvi"
        ),
        "tile_assign_hex": D.with_clause(
            D.pages_sql(),
            hex_cell_sql_ctes("pages", "doc_id", "x", "y", HEX_SIZE),
        )
        + "\nSELECT hex_cell, count(*) AS n_pages FROM hexcell GROUP BY hex_cell",
        "knn_snap_hex": geo(
            "SELECT point_id, page_url, snap_distance, is_panoramic FROM gvi"
        ),
        "gvi_per_road": geo(
            "SELECT road_id, round(avg(gvi), 6) AS avg_gvi, "
            "CAST(sum(CASE WHEN gvi IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_points_count, "
            "count(*) AS total_points FROM gvi GROUP BY road_id"
        ),
        "roads_gvi_left": geo(
            """
, roads AS (SELECT DISTINCT road_id, length, highway FROM points)
, per AS (
  SELECT road_id, round(avg(gvi), 6) AS avg_gvi,
         CAST(sum(CASE WHEN gvi IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_points_count,
         count(*) AS total_points
  FROM gvi GROUP BY road_id)
SELECT r.road_id, r.length, r.highway, p.avg_gvi, p.null_points_count, p.total_points
FROM roads r LEFT JOIN per p ON r.road_id = p.road_id"""
        ),
        "pipeline_metrics": geo(
            "SELECT CAST(sum(CASE WHEN page_url = '' THEN 1 ELSE 0 END) AS BIGINT) AS unavailable, "
            "CAST(sum(CASE WHEN gvi IS NULL AND page_url <> '' THEN 1 ELSE 0 END) AS BIGINT) AS unsuitable, "
            "CAST(sum(CASE WHEN gvi IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_null, "
            "round(CAST(sum(CASE WHEN gvi IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS proportion_null, "
            "count(*) AS total_points, "
            "CAST(sum(CASE WHEN is_panoramic THEN 1 ELSE 0 END) AS BIGINT) AS panoramic_count, "
            "CAST(sum(CASE WHEN page_url <> '' THEN 1 ELSE 0 END) AS BIGINT) AS total_images, "
            "round(CAST(sum(CASE WHEN is_panoramic THEN 1 ELSE 0 END) AS DOUBLE) / "
            "sum(CASE WHEN page_url <> '' THEN 1 ELSE 0 END), 6) AS proportion_panoramic, "
            "CAST(sum(CASE WHEN page_url <> '' THEN 1 ELSE 0 END) AS BIGINT) AS avail_gvi_points, "
            "round(sum(length) / 1000.0, 6) AS road_length_km, "
            "round(CAST(sum(CASE WHEN page_url <> '' THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS availability_score, "
            "round(sum(CASE WHEN page_url <> '' THEN 1 ELSE 0 END) * ln(sum(length) / 1000.0) / count(*), 6) "
            "AS adjusted_availability_score, "
            "CAST(sum(CASE WHEN gvi IS NOT NULL AND page_url <> '' THEN 1 ELSE 0 END) AS BIGINT) AS usab_gvi_points, "
            "round(CAST(sum(CASE WHEN gvi IS NOT NULL AND page_url <> '' THEN 1 ELSE 0 END) AS DOUBLE) / "
            "sum(CASE WHEN page_url <> '' THEN 1 ELSE 0 END), 6) AS usability_score, "
            "round(sum(CASE WHEN gvi IS NOT NULL AND page_url <> '' THEN 1 ELSE 0 END) * "
            "ln(sum(length) / 1000.0) / sum(CASE WHEN page_url <> '' THEN 1 ELSE 0 END), 6) "
            "AS adjusted_usability_score FROM gvi"
        ),
        "highway_rollup": geo(
            """
, g1 AS (
  SELECT road_id, highway,
         CAST(sum(CASE WHEN page_url IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_null
  FROM gvi GROUP BY road_id, highway)
SELECT highway, CAST(sum(total_null) AS BIGINT) AS total_null,
       round(CAST(sum(total_null) AS DOUBLE) / (SELECT count(*) FROM gvi), 6) AS proportion_null
FROM g1 GROUP BY highway"""
        ),
        "top5_highways": geo(
            """
, g1 AS (
  SELECT road_id, highway,
         CAST(sum(CASE WHEN page_url IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_null
  FROM gvi GROUP BY road_id, highway)
SELECT highway, CAST(sum(total_null) AS BIGINT) AS total_null
FROM g1 GROUP BY highway ORDER BY total_null DESC, highway LIMIT 5"""
        ),
        "pip_hexagon": pages_only(
            f"SELECT lang, count(*) AS n_pages FROM pages WHERE {hex_pred} GROUP BY lang"
        ),
        "zonal_mean": D.with_clause(D.points_sql(), D.grid_sql())
        + f"""
SELECT q.point_id, round(avg(greatest(g.value, 0.0)), 3) AS mean_ndvi
FROM points q JOIN grid g
  ON (g.cx - q.x) * (g.cx - q.x) + (g.cy - q.y) * (g.cy - q.y) <= {r2!r}
GROUP BY q.point_id""",
        "zonal_histogram": D.with_clause(D.points_sql(), D.grid_sql())
        + f"""
, counts AS (
  SELECT q.point_id,
         CASE WHEN g.value > 0.5 THEN 1 ELSE 0 END AS lc_class,
         count(*) AS n
  FROM points q JOIN grid g
    ON (g.cx - q.x) * (g.cx - q.x) + (g.cy - q.y) * (g.cy - q.y)
       <= {D.ZONAL_RADIUS * D.ZONAL_RADIUS!r}
  GROUP BY 1, 2),
totals AS (SELECT point_id, CAST(sum(n) AS BIGINT) AS total FROM counts GROUP BY 1)
SELECT c.point_id, c.lc_class, CAST(c.n AS BIGINT) AS cell_count,
       CAST(round(c.n * 100.0 / t.total, 3) AS VARCHAR) || '%' AS pct
FROM counts c JOIN totals t ON c.point_id = t.point_id""",
        "gap_fill_linreg": geo(
            f"""
, feat AS (
  SELECT point_id, missing, gvi,
         CAST((point_id * {D.ND_A} + {D.ND_B}) % {D.M32} AS DOUBLE) / {float(D.M32)!r} AS ndvi
  FROM gvi),
fit AS (
  SELECT regr_slope(gvi, ndvi) AS slope, regr_intercept(gvi, ndvi) AS icept
  FROM feat WHERE gvi IS NOT NULL)
SELECT point_id, missing,
       round(CASE WHEN gvi IS NOT NULL THEN gvi
                  ELSE (SELECT icept FROM fit) + (SELECT slope FROM fit) * ndvi END, 6)
       AS gvi_filled
FROM feat"""
        ),
        "gap_fill_metrics": geo(
            f"""
, feat AS (
  SELECT point_id,
         CAST((point_id * {D.ND_A} + {D.ND_B}) % {D.M32} AS DOUBLE) / {float(D.M32)!r} AS x,
         gvi AS y
  FROM gvi WHERE gvi IS NOT NULL),
kf AS (SELECT *, ntile(5) OVER (ORDER BY point_id) AS fold FROM feat),
per AS (
  SELECT fold, CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
  FROM kf GROUP BY fold),
tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS tn, sum(x) AS tsx, sum(y) AS tsy,
         sum(x*x) AS tsxx, sum(x*y) AS tsxy
  FROM kf),
fitted AS (
  SELECT n, sx, sy, sxx, sxy, syy, tn,
         ((tn - n) * (tsxy - sxy) - (tsx - sx) * (tsy - sy))
           / ((tn - n) * (tsxx - sxx) - (tsx - sx) * (tsx - sx)) AS b,
         ((tsy - sy) - ((tn - n) * (tsxy - sxy) - (tsx - sx) * (tsy - sy))
           / ((tn - n) * (tsxx - sxx) - (tsx - sx) * (tsx - sx)) * (tsx - sx))
           / (tn - n) AS a
  FROM per, tot),
scored AS (
  SELECT sqrt((syy - 2*a*sy - 2*b*sxy + 2*a*b*sx + a*a*n + b*b*sxx) / n) AS rmse,
         1.0 - (syy - 2*a*sy - 2*b*sxy + 2*a*b*sx + a*a*n + b*b*sxx)
             / (syy - sy*sy/n) AS r2,
         tn
  FROM fitted)
SELECT CAST(any_value(tn) AS BIGINT) AS n_known,
       round(avg(rmse), 6) AS avg_rmse,
       round(avg(r2), 6) AS avg_r2,
       round(any_value(tn) * ln(avg(rmse) * avg(rmse)) + 4.0, 6) AS aic
FROM scored"""
        ),
        "dedup_exact": (
            "SELECT md5(text) AS text_md5, count(*) AS n_dups, "
            "min(doc_id) AS keeper FROM documents GROUP BY md5(text)"
        ),
        # candidate condition: jaccard >= t implies min/max size >= t —
        # the engine's threshold-derived bucket ranges cover exactly
        # these pairs, so the exact ratio join is the equivalent oracle
        "token_jaccard": """
WITH toks AS (
  SELECT doc_id AS id,
         list_distinct(string_split(text, ' ')) AS tk
  FROM documents)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
         / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) AS jaccard
  FROM toks a JOIN toks b
    ON a.id < b.id
   AND least(len(a.tk), len(b.tk)) >= 0.6 * greatest(len(a.tk), len(b.tk))
) WHERE jaccard >= 0.6""",
        "text_analyze": f"""
WITH t AS (
  SELECT doc_id, text,
         list_distinct(string_split(text, ' ')) AS dtk,
         len(string_split(text, ' ')) AS ntok,
         length(text) AS nch
  FROM documents),
s AS (
  SELECT *,
         len(list_intersect(dtk, {STOP_SQL['de']})) AS s_de,
         len(list_intersect(dtk, {STOP_SQL['en']})) AS s_en,
         len(list_intersect(dtk, {STOP_SQL['fr']})) AS s_fr,
         len(list_intersect(dtk, {STOP_SQL['nl']})) AS s_nl,
         (nch - (ntok - 1)) / CAST(ntok AS DOUBLE) AS mean_tok,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / nch AS alpha,
         CAST(len(dtk) AS DOUBLE) / ntok AS distinct_ratio
  FROM t)
SELECT doc_id,
       CASE WHEN s_nl > greatest(s_de, s_en, s_fr) THEN 'nl'
            WHEN s_fr > greatest(s_de, s_en) THEN 'fr'
            WHEN s_en > s_de THEN 'en' ELSE 'de' END AS lang_pred,
       CAST(ntok AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_bpe_pieces,
       round(mean_tok, 6) AS mean_token_len,
       round(alpha, 6) AS alpha_ratio,
       round(distinct_ratio, 6) AS distinct_token_ratio,
       round(CASE WHEN ntok >= 50 AND ntok <= 100000 THEN 0.4 ELSE 0.0 END
             + CASE WHEN mean_tok >= 3 AND mean_tok <= 12 THEN 0.3 ELSE 0.0 END
             + CASE WHEN alpha >= 0.6 THEN 0.2 ELSE 0.0 END
             + CASE WHEN distinct_ratio >= 0.1 THEN 0.1 ELSE 0.0 END, 6) AS quality_score
FROM s""",
        # explicit double math: DuckDB's list_cosine_similarity runs in
        # float32 and diverges from the engine's float64 HOF pipeline
        "minhash_lsh": _minhash_oracle_sql(k=32, bands=8, n=3, threshold=0.5),
        "dup_clusters": _dup_clusters_oracle_sql(),
        "label_centroids": """
WITH ex AS (
  SELECT label, unnest(range(len(embedding))) AS pos, unnest(embedding) AS val
  FROM embeddings)
SELECT label, CAST(pos AS INTEGER) AS pos,
       round(avg(CAST(val AS DOUBLE)), 6) AS centroid
FROM ex GROUP BY label, pos""",
        "char_percentiles": (
            "SELECT lang, count(*) AS n, min(n_chars) AS vmin, "
            "round(quantile_cont(n_chars, 0.5), 6) AS p50, "
            "round(quantile_cont(n_chars, 0.9), 6) AS p90, "
            "round(quantile_cont(n_chars, 0.99), 6) AS p99 "
            "FROM documents GROUP BY lang"
        ),
        "stratified_sample": _stratified_sample_oracle_sql(SAMPLE_RATES),
        "curate_funnel": _curate_funnel_oracle_sql(),
        "ngram_topk": _ngram_topk_oracle_sql(n=3, k=5),
        "distinct_users": (
            "SELECT date_trunc('hour', ts) AS window_start, count(*) AS n_events, "
            "count(DISTINCT user_id) AS n_users_exact FROM events GROUP BY 1"
        ),
        "doc_fingerprint": _fingerprint_oracle_sql(window=8),
        "simhash_pairs": _simhash_oracle_sql(max_hamming=3),
        "ann_lsh": _ann_lsh_oracle_sql(n_planes=6, dim=64, seed=7),
        "ivf_topk": _ivf_oracle_sql(n_lists=8, dim=64, n_probe=2, seed=21, k=10),
        # golden-table oracles: independent scalar implementations
        # materialized as parquet (tools/make_golden.py); value-exact
        "gvi_score_docs": _golden_sql("gvi_score_docs"),
        "isochrone": _golden_sql("isochrone"),
        "media_features": _golden_sql("media_features"),
        "video_frames": _golden_sql("video_frames"),
        "sim_topk": """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT id, round(cosine, 6) AS cosine FROM (
  SELECT e.vec_id AS id,
         list_sum(list_transform(list_zip(e.embedding, q.qv),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(e.embedding,
                  v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv,
                  v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cosine
  FROM embeddings e, q
) ORDER BY cosine DESC, id LIMIT 10""",
        "cosine_near_dup": D.with_clause(D.embeddings_aug_sql())
        + """
SELECT id_a, id_b, round(cosine, 6) AS cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding,
                  v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding,
                  v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cosine
  FROM emb_aug a JOIN emb_aug b ON a.vec_id < b.vec_id
) WHERE cosine >= 0.95""",
        "overlay_ratio": D.with_clause(D.points_sql(), D.grid_sql())
        + f"""
SELECT q.point_id,
       round(avg(CASE WHEN g.value > 0.5 THEN 1.0 ELSE 0.0 END), 6) AS area_ratio
FROM points q JOIN grid g
  ON (g.cx - q.x) * (g.cx - q.x) + (g.cy - q.y) * (g.cy - q.y)
     <= {D.ZONAL_RADIUS * D.ZONAL_RADIUS!r}
GROUP BY q.point_id""",
        "events_window": (
            "SELECT date_trunc('hour', ts) AS window_start, event_type, "
            "count(*) AS n, round(sum(value), 6) AS sum_value "
            "FROM events GROUP BY 1, 2"
        ),
        "sessionize": """
WITH e AS (SELECT user_id, event_id, value, ts, epoch_us(ts) AS us FROM events),
m AS (
  SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                      > 1800000000 THEN 1 ELSE 0 END AS new_sess
  FROM e),
s AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM m)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM s GROUP BY user_id, sess_id""",
        "pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price, "
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) "
            "         * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price, "
            "round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*), 6) AS avg_disc, "
            "count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "top_customers": (
            "SELECT c.c_custkey, c.c_name, "
            "CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) "
            "         * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue "
            "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
            "JOIN customer c ON o.o_custkey = c.c_custkey "
            "GROUP BY c.c_custkey, c.c_name ORDER BY revenue DESC, c.c_custkey LIMIT 10"
        ),
        # -------- round-6 rotation: curation/selection family --------
        "fix_text": _fix_text_oracle_sql(),
        "repetition_signals": _repetition_oracle_sql(),
        "paragraph_dedup": _paragraph_oracle_sql(),
        "chunk_dedup": _chunk_oracle_sql(),
        "token_budget": _token_budget_oracle_sql(),
        "pack_assignments": _pack_oracle_sql(),
        "dsir_score": _dsir_oracle_sql(),
        "semantic_dedup": _semdedup_oracle_sql(),
        "clf_score": _clf_oracle_sql(),
        "url_dedup": _url_oracle_sql(),
    }


def retired_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Round-1 single-expression rows rotated OUT of the 50-slot
    driver gate in round 6 (each had been hash-green for five rounds)
    to make room for the round-5 operator family. Still value-checked
    every test run by tests/test_retired_contract.py — the coverage is
    unchanged, only the reporting surface moved."""
    return {
        "cell_topk": q_cell_topk,
        "cell_rollup": q_cell_rollup,
        "anti_join_resume": q_anti_join_resume,
        "union_dedup": q_union_dedup,
        "validity_filter": q_validity_filter,
        "bbox_slice": q_bbox_slice,
        "text_stats": q_text_stats,
        "lang_rollup": q_lang_rollup,
        "edge_dedup": q_edge_dedup,
        "bounds": q_bounds,
    }


def retired_oracle_sql() -> dict[str, str]:
    geo = _geo_sql
    pages_only = lambda sel: D.with_clause(D.pages_sql()) + "\n" + sel  # noqa: E731
    _ = geo
    return {
        "cell_topk": pages_only(
            "SELECT cell_id, count(*) AS n_pages FROM pages GROUP BY cell_id "
            "ORDER BY n_pages DESC, cell_id LIMIT 20"
        ),
        "cell_rollup": pages_only(
            "SELECT (CAST(10 AS BIGINT) * 288230376151711744 + CAST(CAST(least(greatest(floor(((lon)/360.0 + 0.5) * 1024.0), 0), 1023) AS INTEGER) AS BIGINT) * 536870912 + CAST(CAST(least(greatest(floor((0.5 - (ln((tan(radians(least(greatest(lat, -85.0511287798066), 85.0511287798066)))) + sqrt((tan(radians(least(greatest(lat, -85.0511287798066), 85.0511287798066))))*(tan(radians(least(greatest(lat, -85.0511287798066), 85.0511287798066)))) + 1.0)))/6.283185307179586) * 1024.0), 0), 1023) AS INTEGER) AS BIGINT)) AS coarse_cell, "
            "count(*) AS n_pages FROM pages GROUP BY 1"
        ),
        "anti_join_resume": D.with_clause(D.points_sql())
        + """
SELECT point_id, road_id FROM points
WHERE point_id NOT IN (SELECT point_id FROM points WHERE point_id % 3 = 0)""",
        "union_dedup": pages_only(
            """
SELECT id, shard, round(v, 6) AS v FROM (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY shard) AS rn FROM (
    SELECT doc_id AS id, 1 AS shard, gvi0 AS v FROM pages WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id AS id, 2 AS shard, gvi0 + 1.0 AS v FROM pages WHERE doc_id % 3 = 0
  )
) WHERE rn = 1"""
        ),
        "validity_filter": pages_only(
            """
SELECT doc_id, s FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN 'x' || CAST(doc_id AS VARCHAR)
              ELSE CAST(doc_id AS VARCHAR) END AS s
  FROM pages
) WHERE TRY_CAST(s AS DOUBLE) IS NOT NULL"""
        ),
        "bbox_slice": pages_only(
            """
SELECT doc_id, lang, round(x, 6) AS x, round(y, 6) AS y FROM pages
WHERE x BETWEEN 1000.0 AND 4000.0 AND y BETWEEN 2000.0 AND 8000.0
  AND doc_id >= 100 AND doc_id < 2000"""
        ),
        "text_stats": (
            "SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars, "
            "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
            "round((length(text) - (len(string_split(text, ' ')) - 1)) / "
            "CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_token_len "
            "FROM documents"
        ),
        "lang_rollup": (
            "SELECT lang, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars "
            "FROM documents GROUP BY lang"
        ),
        "edge_dedup": """
WITH edges AS (
  SELECT DISTINCT l_orderkey % 100 AS u, l_partkey % 97 AS v FROM lineitem)
SELECT u, v FROM (
  SELECT u, v,
         row_number() OVER (PARTITION BY least(u, v), greatest(u, v) ORDER BY u, v) AS rn
  FROM edges
) WHERE rn = 1""",
        "bounds": D.with_clause(D.pages_sql())
        + """
SELECT round(min(x), 6) AS min_x, round(min(y), 6) AS min_y,
       round(max(x), 6) AS max_x, round(max(y), 6) AS max_y
FROM pages""",
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tile_assign": q_tile_assign,
        "knn_snap": q_knn_snap,
        "tile_assign_hex": q_tile_assign_hex,
        "knn_snap_hex": q_knn_snap_hex,
        "gvi_per_road": q_gvi_per_road,
        "roads_gvi_left": q_roads_gvi_left,
        "pipeline_metrics": q_pipeline_metrics,
        "highway_rollup": q_highway_rollup,
        "top5_highways": q_top5_highways,
        "pip_hexagon": q_pip_hexagon,
        "zonal_mean": q_zonal_mean,
        "zonal_histogram": q_zonal_histogram,
        "gap_fill_linreg": q_gap_fill_linreg,
        "gap_fill_metrics": q_gap_fill_metrics,
        "dedup_exact": q_dedup_exact,
        "token_jaccard": q_token_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "dup_clusters": q_dup_clusters,
        "label_centroids": q_label_centroids,
        "char_percentiles": q_char_percentiles,
        "stratified_sample": q_stratified_sample,
        "curate_funnel": q_curate_funnel,
        "ngram_topk": q_ngram_topk,
        "distinct_users": q_distinct_users,
        "simhash_pairs": q_simhash_pairs,
        "text_analyze": q_text_analyze,
        "doc_fingerprint": q_doc_fingerprint,
        "sim_topk": q_sim_topk,
        "ann_lsh": q_ann_lsh,
        "ivf_topk": q_ivf_topk,
        "cosine_near_dup": q_cosine_near_dup,
        "overlay_ratio": q_overlay_ratio,
        "gvi_score_docs": q_gvi_score_docs,
        "isochrone": q_isochrone,
        "media_features": q_media_features,
        "video_frames": q_video_frames,
        "events_window": q_events_window,
        "sessionize": q_sessionize,
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        # -------- round-6 rotation: curation/selection family --------
        "fix_text": q_fix_text_docs,
        "repetition_signals": q_repetition_docs,
        "paragraph_dedup": q_paragraph_docs,
        "chunk_dedup": q_chunk_dedup_docs,
        "token_budget": q_token_budget_docs,
        "pack_assignments": q_pack_docs,
        "dsir_score": q_dsir_docs,
        "semantic_dedup": q_semdedup_docs,
        "clf_score": q_clf_score_docs,
        "url_dedup": q_url_dedup_docs,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derived pages -> tile assign -> kNN snap -> per-road GVI
    aggregate at sf0.001."""
    return q_gvi_per_road(spark, "/root/testdata/sf0.001")
