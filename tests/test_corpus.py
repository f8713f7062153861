"""Corpus-analytics oracle tests: duplicate clustering vs a pure-Python
union-find, centroids/percentiles vs NumPy, sampling determinism and
statistical sanity, n-gram ranking determinism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from streetview_naturevisibility_spark.operators.corpus import (
    dedup_keep_canonical,
    duplicate_clusters,
    label_centroids,
    ngram_topk,
    percentile_rollup,
    stratified_sample,
)

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------------------
# union-find oracle
# ------------------------------------------------------------------
def _uf_clusters(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min member of each component
    comp: dict[int, list[int]] = {}
    for x in parent:
        comp.setdefault(find(x), []).append(x)
    out = {}
    for members in comp.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


def _check_clusters(spark, pairs: list[tuple[int, int]]):
    pdf = spark.createDataFrame(pairs, "id_a: long, id_b: long")
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in duplicate_clusters(pdf).collect()
    }
    want = _uf_clusters(pairs)
    sizes: dict[int, int] = {}
    for x, m in want.items():
        sizes[m] = sizes.get(m, 0) + 1
    assert got == {x: (m, sizes[m]) for x, m in want.items()}


def test_clusters_basic(spark):
    # two components: a triangle-ish clique and a pair
    _check_clusters(spark, [(1, 2), (2, 3), (1, 3), (10, 11)])


def test_clusters_long_chain(spark):
    # path graph of diameter 19 — forces many propagation rounds and
    # exercises the fixpoint/convergence logic (not just near-cliques)
    _check_clusters(spark, [(i, i + 1) for i in range(20)])


def test_clusters_random_graph(spark):
    rng = np.random.RandomState(7)
    pairs = [
        (int(a), int(b))
        for a, b in rng.randint(0, 60, size=(80, 2))
        if a != b
    ]
    _check_clusters(spark, pairs)


def _check_star(spark, pairs: list[tuple[int, int]]):
    pdf = spark.createDataFrame(pairs, "id_a: long, id_b: long")
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in duplicate_clusters(pdf, algorithm="star").collect()
    }
    want = _uf_clusters(pairs)
    sizes: dict[int, int] = {}
    for x, m in want.items():
        sizes[m] = sizes.get(m, 0) + 1
    assert got == {x: (m, sizes[m]) for x, m in want.items()}


def test_star_basic_and_pair(spark):
    _check_star(spark, [(1, 2), (2, 3), (1, 3), (10, 11)])


def test_star_long_chain(spark):
    # the adversarial shape star exists for: O(log^2 n) rounds vs the
    # propagation algorithm's O(diameter)
    _check_star(spark, [(i, i + 1) for i in range(40)])


def test_star_interior_minimum(spark):
    # component minimum is an interior node, not an endpoint
    _check_star(spark, [(5, 9), (9, 2), (7, 9), (30, 31), (31, 28)])


def test_star_random_graph_matches_propagation(spark):
    rng = np.random.RandomState(13)
    pairs = [
        (int(a), int(b))
        for a, b in rng.randint(0, 80, size=(100, 2))
        if a != b
    ]
    pdf = spark.createDataFrame(pairs, "id_a: long, id_b: long")
    a = sorted(map(tuple, duplicate_clusters(pdf, algorithm="star").collect()))
    b = sorted(map(tuple, duplicate_clusters(pdf).collect()))
    assert a == b


def test_self_pairs_and_duplicates_ignored_consistently(spark):
    # self-pairs and repeated pairs must not change clustering, and
    # both algorithms must agree (a doc paired only with itself is
    # not clustered)
    pairs = [(1, 1), (1, 2), (2, 1), (1, 2), (7, 7)]
    pdf = spark.createDataFrame(pairs, "id_a: long, id_b: long")
    a = sorted(map(tuple, duplicate_clusters(pdf).collect()))
    b = sorted(map(tuple, duplicate_clusters(pdf, algorithm="star").collect()))
    assert a == b == [(1, 1, 2), (2, 1, 2)]


def test_clusters_merge_order_independent(spark):
    # same graph, reversed edge orientation and order -> same clusters
    pairs = [(5, 9), (9, 2), (30, 31), (2, 40)]
    rev = [(b, a) for a, b in reversed(pairs)]
    pdf1 = spark.createDataFrame(pairs, "id_a: long, id_b: long")
    pdf2 = spark.createDataFrame(rev, "id_a: long, id_b: long")
    r1 = sorted(map(tuple, duplicate_clusters(pdf1).collect()))
    r2 = sorted(map(tuple, duplicate_clusters(pdf2).collect()))
    assert r1 == r2


def test_dedup_keep_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(8)], "doc_id: long, text: string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 5)], "id_a: long, id_b: long")
    clusters = duplicate_clusters(pairs)
    kept = sorted(
        r.doc_id for r in dedup_keep_canonical(docs, clusters).collect()
    )
    # cluster {1,2,5} keeps 1; everything unclustered passes through
    assert kept == [0, 1, 3, 4, 6, 7]


# ------------------------------------------------------------------
# centroids / percentiles vs NumPy
# ------------------------------------------------------------------
def test_label_centroids_numpy(spark):
    rng = np.random.RandomState(3)
    rows = [
        (int(i % 3), [float(v) for v in rng.rand(5).astype(np.float32)])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "label: int, embedding: array<float>")
    got = {
        (r.label, r.pos): r.centroid
        for r in label_centroids(df, "label", "embedding").collect()
    }
    for lbl in range(3):
        vecs = np.array([v for l, v in rows if l == lbl], dtype=np.float64)
        mean = vecs.mean(axis=0)
        for pos in range(5):
            assert got[(lbl, pos)] == pytest.approx(round(mean[pos], 6), abs=1e-9)


def test_percentile_rollup_numpy(spark):
    rng = np.random.RandomState(11)
    vals = rng.randint(0, 10_000, size=200)
    rows = [("g" if i % 2 else "h", int(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "grp: string, v: long")
    got = {r.grp: r for r in percentile_rollup(df, "grp", "v").collect()}
    for g in ("g", "h"):
        arr = np.array([v for k, v in rows if k == g], dtype=np.float64)
        assert got[g].n == len(arr)
        assert got[g].vmin == arr.min()
        for p, name in ((50, "p50"), (90, "p90"), (99, "p99")):
            want = round(float(np.percentile(arr, p, method="linear")), 6)
            assert getattr(got[g], name) == pytest.approx(want, abs=1e-6)


# ------------------------------------------------------------------
# stratified sampling
# ------------------------------------------------------------------
def test_stratified_sample_deterministic_and_unbiased(spark):
    rows = [(i, "a" if i % 3 else "b") for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id: long, lang: string")
    rates = {"a": 0.3, "b": 0.8}
    s1 = stratified_sample(df, "lang", rates, "doc_id")
    got1 = sorted(r.doc_id for r in s1.collect())
    # repartitioning must not change membership (hash-based, not seed)
    s2 = stratified_sample(df.repartition(17), "lang", rates, "doc_id")
    got2 = sorted(r.doc_id for r in s2.collect())
    assert got1 == got2
    # per-stratum rate within binomial 4-sigma
    counts = {r.lang: r.n for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    totals = {"a": 2000, "b": 1000}
    for lang, rate in rates.items():
        n, tot = counts[lang], totals[lang]
        sigma = (tot * rate * (1 - rate)) ** 0.5
        assert abs(n - tot * rate) < 4 * sigma
    # weights are the inverse rates
    w = {r.lang: r.weight for r in s1.select("lang", "weight").distinct().collect()}
    assert w == {
        "a": pytest.approx(round(1 / 0.3, 6)),
        "b": pytest.approx(round(1 / 0.8, 6)),
    }


def test_stratified_sample_zero_default_rate(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "y")], "doc_id: long, lang: string"
    )
    out = stratified_sample(df, "lang", {"x": 1.0}, "doc_id").collect()
    assert [r.doc_id for r in out] == [1]  # unknown stratum dropped


# ------------------------------------------------------------------
# n-gram top-k
# ------------------------------------------------------------------
def test_ngram_topk_df_and_ties(spark):
    docs = spark.createDataFrame(
        [
            (1, "g", "a b c a b c"),  # grams {a b c, b c a, c a b} (distinct)
            (2, "g", "a b c x"),
            (3, "g", "z z z z"),
        ],
        "doc_id: long, lang: string, text: string",
    )
    out = ngram_topk(docs, group_col="lang", n=3, k=3).collect()
    ranked = [(r.gram, r.df_count, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    # "a b c" appears in docs 1 and 2 -> df 2; ties broken gram-asc
    assert ranked[0] == ("a b c", 2, 1)
    assert all(ranked[i][1] >= ranked[i + 1][1] for i in range(len(ranked) - 1))
    # within equal df_count, grams ascend
    for i in range(len(ranked) - 1):
        if ranked[i][1] == ranked[i + 1][1]:
            assert ranked[i][0] < ranked[i + 1][0]


def test_ngram_topk_k_bound(spark):
    from streetview_naturevisibility_spark.sources.tables import load

    docs = load(spark, SF_DIR, "documents")
    out = ngram_topk(docs, n=3, k=5)
    per = out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    assert all(r.n <= 5 for r in per)


# ------------------------------------------------------------------
# sketch aggregates: approx columns bounded against the exact twins
# ------------------------------------------------------------------
def test_distinct_rollup_sketch_bounds(spark):
    from streetview_naturevisibility_spark.operators.sketches import (
        distinct_rollup,
    )
    from streetview_naturevisibility_spark.sources.tables import load

    events = load(spark, "/root/testdata/sf0.01", "events")
    rows = distinct_rollup(events, rsd=0.02).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_users_exact <= r.n_events
        # HLL++ rsd=0.02 -> allow 5 sigma
        assert abs(r.n_users_approx - r.n_users_exact) <= max(
            5, 0.10 * r.n_users_exact
        )


def test_clusters_nonconvergence_raises(spark, no_broadcast):
    # wrong clusters are worse than no clusters: exhausting max_iters
    # without a fixpoint must raise, not return partial merges
    # (no_broadcast forces the distributed rounds — the driver
    # union-find needs no iteration and converges exactly)
    pairs = [(i, i + 1) for i in range(12)]
    pdf = spark.createDataFrame(pairs, "id_a: long, id_b: long")
    with no_broadcast(), pytest.raises(ValueError, match="did not converge"):
        duplicate_clusters(pdf, max_iters=3)


class TestDriverUnionFind:
    """r7 adaptive CC: driver union-find (small edge sets) must equal
    the distributed propagation rounds exactly."""

    def test_driver_path_equals_distributed(self, spark, no_broadcast):
        import pandas as pd

        from streetview_naturevisibility_spark.operators.corpus import (
            duplicate_clusters,
        )

        pairs = spark.createDataFrame(
            # two chains, one clique, one isolated pair, one self-pair
            [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21),
             (30, 30), (40, 41)],
            "id_a long, id_b long",
        )
        fast = duplicate_clusters(pairs).toPandas()
        with no_broadcast():
            slow = duplicate_clusters(pairs).toPandas()
        key = ["doc_id", "cluster_id", "cluster_size"]
        a = fast[key].sort_values(key).reset_index(drop=True)
        b = slow[key].sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)
        assert set(a.columns) == set(key)
        # self-pair 30 must be absent; chain 1-2-3 labeled 1 size 3
        assert 30 not in set(a.doc_id)
        assert a[a.doc_id == 3].cluster_id.iloc[0] == 1
