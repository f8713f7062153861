"""Corpus-level analytics for large-scale training-data pipelines.

The dedup/similarity suite (dedup.py, similarity.py) emits *pairs*;
this module holds the corpus-wide stages that come after — and the
rollups a data curator runs over the whole corpus:

- ``duplicate_clusters``: distributed connected components over a
  near-dup pair list (the canonical final stage of web-scale dedup:
  MinHash-LSH pairs -> clusters -> keep one doc per cluster);
- ``dedup_keep_canonical``: apply the clusters to the corpus;
- ``label_centroids``: per-group mean embedding (long form — the
  shape that scales: shuffle key is (group, dim_pos), partial
  aggregation map-side);
- ``percentile_rollup``: exact percentiles per group (Spark
  ``percentile``, linear interpolation — the same definition DuckDB's
  ``quantile_cont`` uses);
- ``stratified_sample``: DETERMINISTIC per-stratum sampling by a
  portable content hash — reproducible across runs, engines and
  cluster sizes (unlike ``df.sample``, which is seed+partitioning
  dependent), with an inverse-probability ``weight`` column for
  unbiased downstream estimates;
- ``ngram_topk``: top-k token n-grams per group by document frequency
  (vocabulary / contamination audits).

All stages are pure JVM Column expressions except the connected-
components loop, which is iterative by nature (driver-coordinated
fixpoint over two aggregate jobs per round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
)

from streetview_naturevisibility_spark.operators.dedup import shingles_col
from streetview_naturevisibility_spark.session import fits, materialize


# ------------------------------------------------------------------
# connected components over near-dup pairs
# ------------------------------------------------------------------
def _fp():
    """Order-independent fingerprint of an edge set (xor cannot
    overflow under ANSI mode); with the row count it detects a
    fixpoint."""
    return F.bit_xor(F.xxhash64("src", "dst"))


def _cc_star(edges: DataFrame, stats: tuple, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond"): O(log^2 n)
    rounds regardless of component diameter. Each round is two
    neighborhood-min passes (groupBy + join); the edge frame is
    materialized per round (bounded lineage). Converges when the edge
    set is a stable star forest: every node linked directly to its
    component minimum. ``stats`` is the input edges' fingerprint
    (``_fp``). Returns (id, lbl)."""

    def nbr_min(e: DataFrame) -> DataFrame:
        # m(u) = min over Γ(u) ∪ {u}
        return (
            e.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
        )

    for _ in range(max_iters):
        # large-star: for v in Γ(u) with v > u, link (v, m(u))
        m = nbr_min(edges)
        large = (
            edges.join(m, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # symmetric closure for the next neighborhood pass
        e2, _ = materialize(
            large.union(large.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star: orient edges to (big, small); link every small
        # neighbor (and the center) to the minimum
        oriented = e2.where(F.col("dst") < F.col("src"))
        m2 = (
            oriented.groupBy("src")
            .agg(F.min("dst").alias("m"))
        )
        small = (
            oriented.join(m2, "src")
            .select(F.col("dst").alias("v"), F.col("m"))
            .union(oriented.join(m2, "src").select(F.col("src").alias("v"), F.col("m")))
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # stable star forest: every edge already points at the root
        # (src>dst side equals its own min) — detected when the edge
        # set stops changing (count + order-independent xor-of-hashes
        # fingerprint, observed by the round's materialization)
        edges, st = materialize(
            small.union(small.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct(),
            h=_fp(),
        )
        prev, stats = stats, (st["rows"], st["h"])
        if prev == stats:
            break
    else:
        raise ValueError(
            f"star connected components did not converge in {max_iters} "
            "rounds; raise max_iters"
        )
    # star forest: (child, root) edges with child > root, plus roots
    labels = edges.where(F.col("src") > F.col("dst")).select(
        F.col("src").alias("id"), F.col("dst").alias("lbl")
    )
    roots = edges.select(F.col("dst").alias("id")).subtract(
        labels.select("id")
    ).select("id", F.col("id").alias("lbl"))
    return labels.union(roots)


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    algorithm: str = "propagation",
) -> DataFrame:
    """Connected components over an undirected pair list -> one row per
    member node: (doc_id, cluster_id, cluster_size), where cluster_id
    is the MINIMUM doc id in the component (the canonical keeper).

    Two algorithms, same output:

    - ``"propagation"`` (default): iterative min-label propagation.
      Each round is one shuffle join (edges x labels on src) plus a
      groupBy(dst) min — the label frame is node-sized (#docs that
      appear in any pair, far smaller than the corpus), and each
      round's result is materialized so the lineage never grows.
      Convergence = zero changed labels, observed by that
      materialization. Rounds needed = component DIAMETER — right for
      dedup graphs, whose clusters are near-cliques (diameter 2-4 at
      any corpus size).
    - ``"star"``: alternating large-star/small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond") — O(log^2 n)
      rounds regardless of diameter; use for adversarial/chain-shaped
      graphs (e.g. transitive similarity chains) where propagation
      would loop diameter times.

    The pair input is materialized ONCE: the upstream LSH pipeline is
    the expensive part and must not re-run per round.

    When the edge set ``fits`` the driver budget, the components are
    closed with a driver-side union-find on the collected edges
    instead of 3-5 distributed rounds. Output is identical (min-id
    labels, member counts; integral ids only — string ids keep the
    distributed path so byte-wise vs codepoint min ordering can never
    diverge).
    """
    edges, st = materialize(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        # self-pairs carry no connectivity; drop them at entry so both
        # algorithms treat them identically (a doc paired only with
        # itself is not clustered)
        .where(F.col("src") != F.col("dst"))
        .distinct(),
        h=_fp(),
    )
    src_type = edges.schema["src"].dataType
    integral = isinstance(src_type, (ByteType, ShortType, IntegerType, LongType))
    if integral and fits(pairs.sparkSession, st["bytes"]):
        import pandas as pd
        from pyspark.sql.types import StructField, StructType

        ep = edges.toPandas()
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for s, d in zip(ep["src"].to_numpy(), ep["dst"].to_numpy()):
            s, d = int(s), int(d)
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rd] = rs
        comps: dict = {}
        for node in parent:
            comps.setdefault(find(node), []).append(node)
        rows = []
        for members in comps.values():
            mn = min(members)
            sz = len(members)
            rows.extend((m, mn, sz) for m in members)
        rows.sort()
        out_pd = pd.DataFrame(rows, columns=["doc_id", "cluster_id", "cluster_size"])
        schema = StructType(
            [
                StructField("doc_id", src_type),
                StructField("cluster_id", src_type),
                StructField("cluster_size", LongType()),
            ]
        )
        return pairs.sparkSession.createDataFrame(out_pd, schema)
    if algorithm == "star":
        labels = _cc_star(edges, (st["rows"], st["h"]), max_iters)
        sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
        return labels.join(sizes, "lbl").select(
            F.col("id").alias("doc_id"),
            F.col("lbl").alias("cluster_id"),
            "cluster_size",
        )
    labels, _ = materialize(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lbl"))
    )
    for _ in range(max_iters):
        msgs = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("lbl").alias("nbr_min"))
        )
        stepped, st = materialize(
            labels.join(msgs, labels.id == msgs.dst, "left").select(
                "id",
                F.least(F.col("lbl"), F.coalesce("nbr_min", "lbl")).alias("lbl"),
                (F.col("nbr_min") < F.col("lbl")).alias("_chg"),
            ),
            changed=F.count(F.when(F.col("_chg"), 1)),
        )
        labels = stepped.drop("_chg")
        if st["changed"] == 0:
            break
    else:
        # wrong clusters are worse than no clusters: partially-merged
        # components would keep multiple "canonical" copies of one
        # duplicate group. No silent caps (cf. dedup._cap_buckets).
        raise ValueError(
            f"duplicate_clusters did not converge in {max_iters} rounds "
            "(component diameter exceeds max_iters); raise max_iters or "
            'use algorithm="star" (O(log^2 n) rounds)'
        )
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("id").alias("doc_id"),
            F.col("lbl").alias("cluster_id"),
            "cluster_size",
        )
    )


def dedup_keep_canonical(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop every clustered doc except its cluster's canonical keeper
    (min id). Docs in no cluster pass through. One left-anti join on
    the doc id; the drop set is materialized and broadcast when it
    ``fits`` (pair-member-sized, so in most real corpora: duplicate
    fraction << corpus)."""
    drop, st = materialize(
        clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias(id_col)
        )
    )
    if fits(docs.sparkSession, st["bytes"]):
        drop = F.broadcast(drop)
    return docs.join(drop, id_col, "left_anti")


# ------------------------------------------------------------------
# embedding centroids
# ------------------------------------------------------------------
def label_centroids(
    emb: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Per-group mean embedding in LONG form: (group, pos, centroid).

    posexplode -> groupBy(group, pos) -> avg: the shuffle key is
    (group, dim_pos) so partial aggregation combines map-side and no
    single reducer sees more than one dimension of one group — the
    shape that survives a 100 TB embedding table. Assemble to an
    array only at the consumer (`F.array_agg` over a bounded group)
    if needed."""
    c = F.avg(F.col("val").cast("double"))
    c = F.round(c, round_to) if round_to is not None else c
    return (
        emb.select(F.col(group_col).alias("grp"), F.posexplode(vec_col).alias("pos", "val"))
        .groupBy("grp", "pos")
        .agg(c.alias("centroid"))
        .select(F.col("grp").alias(group_col), "pos", "centroid")
    )


# ------------------------------------------------------------------
# exact percentile rollup
# ------------------------------------------------------------------
def percentile_rollup(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
    round_to: int = 6,
) -> DataFrame:
    """Exact linear-interpolation percentiles of ``value_col`` per
    group — Spark's ``percentile`` aggregate (rank = p*(n-1), same
    definition as DuckDB/Postgres ``quantile_cont``/
    ``percentile_cont``). Exact percentile sorts each group's values
    inside the aggregate buffer; for sketch-sized state at extreme
    cardinality switch to ``percentile_approx`` (t-digest-style) —
    kept exact here because the rollup input is the aggregated
    corpus, not the raw token stream."""
    aggs = [
        F.round(F.percentile(F.col(value_col), F.lit(p)), round_to).alias(
            f"p{int(p * 100)}"
        )
        for p in ps
    ]
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"), F.min(value_col).alias("vmin"), *aggs
    )


# ------------------------------------------------------------------
# deterministic stratified sampling
# ------------------------------------------------------------------
SAMPLE_RES = 1_000_000  # hash units per stratum rate


def sample_hash_col(key_col, salt: str = "strat"):
    """Portable uniform hash in [0, 1e6): integer value of the first 15
    md5 hex chars of salt||key, mod 1e6 — identical arithmetic in any
    engine with md5 (DuckDB twin:
    ``CAST('0x'||substring(md5(s),1,15) AS BIGINT) % 1000000``)."""
    s = F.concat(F.lit(salt), F.col(key_col).cast("string"))
    return F.pmod(
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
        F.lit(SAMPLE_RES),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
    salt: str = "strat",
) -> DataFrame:
    """Keep each row iff hash(key) < rate(stratum): deterministic,
    engine-portable, and embarrassingly parallel (a pure filter — no
    shuffle, no state, fully pushdown-friendly). Adds ``weight`` =
    1/rate so downstream aggregates stay unbiased. ``rates`` maps
    stratum value -> sampling fraction in [0, 1]."""
    rate = F.lit(float(default_rate))
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == F.lit(k), F.lit(float(v))).otherwise(rate)
    thresh = F.round(rate * F.lit(SAMPLE_RES), 0).cast("long")
    return (
        df.withColumn("_u", sample_hash_col(key_col, salt))
        .where(F.col("_u") < thresh)
        .withColumn("weight", F.round(F.lit(1.0) / rate, 6))
        .drop("_u")
    )


# ------------------------------------------------------------------
# n-gram document-frequency top-k
# ------------------------------------------------------------------
def ngram_topk(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    n: int = 3,
    k: int = 5,
) -> DataFrame:
    """Top-k token n-grams per group by DOCUMENT frequency (distinct
    docs containing the gram), with a total-order tie-break
    (df desc, gram asc) so results are deterministic.

    Scale shape: shingles are distinct per doc (shingles_col), so the
    explode emits each (doc, gram) once; groupBy(group, gram) combines
    map-side. The ``rank <= k`` filter over row_number triggers
    Catalyst's WindowGroupLimit rewrite: a PARTIAL per-partition top-k
    runs before the exchange and only <= k rows per (partition, group)
    shuffle — the two-phase top-k pattern, derived automatically from
    the declarative plan."""
    grams = docs.select(
        F.col(group_col).alias("grp"), F.explode(shingles_col(text_col, n)).alias("gram")
    )
    counts = grams.groupBy("grp", "gram").agg(F.count(F.lit(1)).alias("df_count"))
    w = Window.partitionBy("grp").orderBy(F.desc("df_count"), F.asc("gram"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "gram", "df_count", "rank")
    )


# ------------------------------------------------------------------
# token-budget selection (corpus mixing)
# ------------------------------------------------------------------
def _budget_col(strata_col: str, budgets: dict[str, int], default_budget: int):
    b = F.lit(int(default_budget)).cast("long")
    for k, v in sorted(budgets.items()):
        b = F.when(F.col(strata_col) == F.lit(k), F.lit(int(v)).cast("long")).otherwise(b)
    return b


def token_budget_select(
    df: DataFrame,
    budgets: dict[str, int],
    strata_col: str = "lang",
    quality_col: str = "quality_score",
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    default_budget: int = 0,
    n_buckets: int = 1024,
) -> DataFrame:
    """Fill each stratum's TOKEN budget with its best documents — the
    corpus-mixing step after filtering/dedup: a curator fixes per-
    language (or per-source) token counts for the training mix and
    wants the highest-quality documents that fit.

    Semantics: within each stratum, order
    docs by (quality DESC NULLS LAST, id ASC); keep a doc iff the
    running INCLUSIVE token sum through it is <= budget(stratum).
    A doc that would overshoot the remaining budget is dropped (and so
    is everything after it) — deterministic, engine-portable, no
    partial documents. Unlisted strata get ``default_budget`` (0 =
    drop). Output = input columns + ``n_tokens`` (computed via
    ``token_count_col`` when ``tokens_col`` is None), kept rows only.

    The direct form — one cumulative-sum window per stratum — SORTS
    every stratum end-to-end, so at 100 TB the largest language
    becomes one giant ordered partition. This is instead a two-phase
    plan built on one identity: ordering is bucket-major (equal-quality
    docs always share a bucket, floor is monotone), so the global
    running sum through a doc decomposes EXACTLY as

        tokens in strictly-better buckets  +  within-bucket running sum.

    (1) bucket quality into ``n_buckets`` ordered bins; (2) aggregate
    token sums per (stratum, bucket) — a TINY frame (strata x buckets
    rows); (3) a window over that tiny frame gives each bucket the
    tokens consumed before it (``_before``); (4) broadcast-join
    ``_before`` back and run ONE cumulative window partitioned by
    (stratum, bucket): the sort partitions are ~1/n_buckets of a
    stratum, so the giant-language skew of the plain window never
    forms — same single corpus scan, same shuffle volume, bounded
    partition size. Keep iff ``_before + within-bucket cum <= budget``
    — bit-identical to the plain window by the identity above (pytest
    asserts equality with the DuckDB window twin on a tie-heavy
    corpus).
    """
    from streetview_naturevisibility_spark.operators.textops import token_count_col

    if tokens_col is None:
        # NULL text counts as 0 tokens, NOT NULL: a NULL would poison
        # the per-bucket sums — 0 keeps the plan equal to the plain
        # window, where such a doc rides along for free
        df = df.withColumn(
            "n_tokens",
            F.coalesce(token_count_col(text_col), F.lit(0).cast("long")),
        )
        tokens_col = "n_tokens"
    budget = _budget_col(strata_col, budgets, default_budget)

    order = [F.col(quality_col).desc_nulls_last(), F.col(id_col).asc()]
    # NULL quality -> NULL bucket, ordered last like the quality sort
    qb = F.floor(F.col(quality_col) * F.lit(float(n_buckets)))
    docs = df.withColumn("_qb", qb)
    per_bucket = docs.groupBy(strata_col, "_qb").agg(
        F.sum(tokens_col).alias("_bsum")
    )
    wb = (
        Window.partitionBy(strata_col)
        .orderBy(F.col("_qb").desc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    verdicts = per_bucket.withColumn(
        "_before", F.coalesce(F.sum("_bsum").over(wb), F.lit(0).cast("long"))
    ).select(
        F.col(strata_col).alias("_v_strata"),
        F.col("_qb").alias("_v_qb"),
        "_before",
    )
    # eqNullSafe: NULL strata and the NULL-quality bucket are real
    # groups and must join (plain = would silently drop them)
    joined = docs.join(
        F.broadcast(verdicts),
        F.col(strata_col).eqNullSafe(F.col("_v_strata"))
        & F.col("_qb").eqNullSafe(F.col("_v_qb")),
        "inner",
    ).drop("_v_strata", "_v_qb")
    wib = (
        Window.partitionBy(strata_col, "_qb")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.withColumn(
            "_cum", F.col("_before") + F.sum(tokens_col).over(wib)
        )
        .where(F.col("_cum") <= budget)
        .drop("_qb", "_before", "_cum")
    )


# ------------------------------------------------------------------
# URL-level curation (Common-Crawl-style)
# ------------------------------------------------------------------
def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Alias-collapse dedup by NORMALIZED URL — the stage CC-style
    pipelines run BEFORE content dedup (the same page arrives under
    utm-tagged / fragment-bearing / case-varying / param-reordered
    aliases). Keeps the min-``id_col`` row per normalized URL; rows
    with NULL url are all kept (no alias evidence). Adds ``url_norm``.

    Physical shape: one groupBy on md5(url_norm) (the 128-bit digest is
    the shuffle key — long URLs never shuffle as join keys) + a
    left-semi join back, identical to exact_dedup's contract. The
    normalization itself is pure codegen (functions/url.py)."""
    from streetview_naturevisibility_spark.functions.url import (
        normalize_url_col,
    )

    withn = df.withColumn("url_norm", normalize_url_col(url_col))
    keyed = withn.withColumn("_uk", F.md5("url_norm"))
    keepers = (
        keyed.where(F.col("url_norm").isNotNull())
        .groupBy("_uk")
        .agg(F.min(id_col).alias(id_col))
    )
    kept = keyed.join(keepers, ["_uk", id_col], "left_semi").drop("_uk")
    nulls = keyed.where(F.col("url_norm").isNull()).drop("_uk")
    return kept.unionByName(nulls)


def domain_rollup(
    df: DataFrame,
    url_col: str = "url",
    tokens_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Per-registrable-domain corpus profile: page count, distinct
    normalized URLs, token total — the frame domain-cap / domain-mix
    policies read (e.g. \"no domain may exceed 0.1% of tokens\").

    -> (domain, n_pages, n_urls, n_tokens) with deterministic output.

    Physical shape: one hash aggregate keyed on the domain string
    (bounded cardinality — domains, not pages); the distinct-URL count
    uses the md5 digest so long URLs leave the mapper as 32 hex chars.
    Skew = the most common domain, reduced map-side by the partial
    count/count_distinct."""
    from streetview_naturevisibility_spark.functions.url import (
        normalize_url_col,
        registrable_domain_col,
    )
    from streetview_naturevisibility_spark.operators.textops import (
        token_count_col,
    )

    toks = (
        F.col(tokens_col)
        if tokens_col
        else F.coalesce(token_count_col(text_col), F.lit(0).cast("long"))
    )
    return (
        df.select(
            registrable_domain_col(url_col).alias("domain"),
            F.md5(normalize_url_col(url_col)).alias("_uk"),
            toks.alias("_t"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.count_distinct("_uk").alias("n_urls"),
            F.sum("_t").alias("n_tokens"),
        )
    )


# ------------------------------------------------------------------
# Sequence packing: the last training-data stage — pack the curated,
# mixed corpus into fixed-token-budget training rows. Deterministic
# contiguous rule: docs in ascending id order fill bins of
# ``budget_tokens``; doc d lands in bin floor(cumsum_before(d) / T)
# where cumsum_before is the EXCLUSIVE prefix sum of token counts in
# id order. (Published pipelines split over-long docs first — this
# engine's chunk/paragraph ops do that upstream; a doc longer than T
# is assigned whole to the bin its prefix starts in, documented.)
# ------------------------------------------------------------------
def pack_assignments(
    df: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    bucket_span: int = 100_000,
) -> DataFrame:
    """-> (id_col, n_tokens, bin_id). The global exclusive prefix sum
    uses the token_budget_select decomposition so no stratum-wide sort
    ever forms: ids bucket by ``floor(id / bucket_span)``, per-bucket
    totals (tiny — one row per bucket) get their own exclusive prefix
    via a window over the TOTALS frame, and each doc's global
    cumsum_before = its bucket's offset + the within-bucket exclusive
    cumsum (exact: bucket boundaries partition the id order, floor is
    applied after the sums recompose). The corpus shuffles ONCE (the
    within-bucket window, partitions ~bucket_span docs); NULL text
    counts 0 tokens (kept — packs into whichever bin is open).
    """
    from pyspark.sql import Window

    # whitespace token count without building the token array:
    # size(split(s, " ")) == spaces + 1 exactly (Spark keeps trailing
    # empty fields), and counting spaces is one translate + two
    # lengths — same value for every input incl. NULL/empty (r7)
    tok = (
        F.col(tokens_col)
        if tokens_col
        else F.length(text_col)
        - F.length(F.translate(F.col(text_col), " ", ""))
        + F.lit(1)
    )
    # bin_id depends only on the GLOBAL exclusive prefix sum, which is
    # invariant to the decomposition span — subdivide the caller's span
    # so the within-bucket window sort parallelizes across ~8x more
    # partitions (r7: 1M rows / span 100k gave only 10-way parallelism
    # on 32 cores; results are identical for any span by construction)
    eff_span = max(1, int(bucket_span) // 8)
    # the (id, tokens, bucket) proxy is ~24 bytes/row — materialize it
    # once so the per-bucket totals pass and the window pass don't each
    # re-evaluate the upstream lineage (compute happens at call time)
    base, _ = materialize(
        df.select(
            F.col(id_col).alias("id"),
            F.coalesce(tok.cast("long"), F.lit(0)).alias("_t"),
        ).withColumn("_bk", F.floor(F.col("id") / F.lit(eff_span)))
    )
    totals = base.groupBy("_bk").agg(F.sum("_t").alias("_bt"))
    w_tot = Window.orderBy("_bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_bt").over(w_tot), F.lit(0))
    ).select("_bk", "_off")
    w_in = (
        Window.partitionBy("_bk")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.join(F.broadcast(offsets), ["_bk"])
        .withColumn(
            "_before",
            F.col("_off") + F.coalesce(F.sum("_t").over(w_in), F.lit(0)),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("_t").alias("n_tokens"),
            F.floor(F.col("_before") / F.lit(int(budget_tokens))).alias("bin_id"),
        )
    )


def pack_rows(
    df: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    sep: str = "\n\n",
    bucket_span: int = 100_000,
) -> DataFrame:
    """Materialized training rows: -> (bin_id, packed_text, n_docs,
    n_tokens). Document order inside a row is ascending id
    (sort_array over (id, text) structs — deterministic under any
    partitioning); NULL texts contribute empty segments."""
    asg = pack_assignments(
        df, budget_tokens, text_col, id_col, tokens_col, bucket_span
    )
    j = df.select(
        F.col(id_col), F.col(text_col).alias("_tx")
    ).join(asg, [id_col])
    return (
        j.groupBy("bin_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("_tx").alias("t")))
            ).alias("_ps"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .select(
            "bin_id",
            F.array_join(
                F.transform(F.col("_ps"), lambda s: F.coalesce(s["t"], F.lit(""))),
                sep,
            ).alias("packed_text"),
            "n_docs",
            "n_tokens",
        )
    )
