"""DSIR importance resampling + SemDeDup semantic dedup.

Oracles: a dict/Counter Python reimplementation of the DSIR weight
(same md5-prefix hash), DuckDB list-lambda twins for both operators
(tests/oracle.py), and structural hand goldens for the SemDeDup keep
rule (planted exact/near/far embedding groups with margin-safe
cosines).
"""
from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from streetview_naturevisibility_spark.operators.similarity import (
    build_ivf_index,
    kmeans_fit,
    pinned_centroids,
    semantic_dedup,
    semantic_dedup_incremental,
)
from streetview_naturevisibility_spark.operators.textops import (
    dsir_score,
    dsir_select,
)
from tests.oracle import duckdb_dsir_score, duckdb_semantic_dedup

# ------------------------------------------------------------------
# DSIR
# ------------------------------------------------------------------
VOCAB_A = ["apple", "banana", "cherry", "date", "elder", "fig"]
VOCAB_B = ["quark", "lepton", "boson", "gluon", "meson", "hadron"]


def _mk_docs():
    rng = np.random.RandomState(11)
    rows = []
    for i in range(30):
        vocab = VOCAB_A if i % 2 == 0 else VOCAB_B
        words = [vocab[j] for j in rng.randint(0, len(vocab), size=12)]
        rows.append((i, " ".join(words)))
    rows.append((100, ""))  # empty text: one (empty-unigram) feature
    rows.append((101, None))  # NULL text: absent from scores
    # exact duplicate pair for the tie-break test
    rows.append((200, "apple banana apple"))
    rows.append((201, "apple banana apple"))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def _mk_target():
    rng = np.random.RandomState(12)
    rows = []
    for i in range(20):
        words = [VOCAB_A[j] for j in rng.randint(0, len(VOCAB_A), size=10)]
        rows.append((i, " ".join(words)))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def _py_buckets(text: str, n_buckets: int) -> list[int]:
    toks = text.split(" ")
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % n_buckets
        for g in grams
    ]


def _py_dsir(docs: pd.DataFrame, target: pd.DataFrame, n_buckets: int, k: float):
    """Counter-based oracle of dsir_score with raw = docs."""
    ct: Counter = Counter()
    for t in target["text"]:
        if t is not None:
            ct.update(_py_buckets(t, n_buckets))
    cr: Counter = Counter()
    feats = {}
    for _, r in docs.iterrows():
        if r["text"] is None:
            continue
        fb = _py_buckets(r["text"], n_buckets)
        feats[r["doc_id"]] = fb
        cr.update(fb)
    tt, tr = sum(ct.values()), sum(cr.values())
    out = {}
    for did, fb in feats.items():
        w = sum(
            math.log((ct.get(b, 0) + k) / (tt + k * n_buckets))
            - math.log((cr.get(b, 0) + k) / (tr + k * n_buckets))
            for b in fb
        )
        out[did] = (w, len(fb))
    return out


B = 512  # small bucket count so collisions are exercised
K = 1.0


def test_dsir_score_matches_counter_oracle(spark):
    docs, target = _mk_docs(), _mk_target()
    got = (
        dsir_score(
            spark.createDataFrame(docs),
            spark.createDataFrame(target),
            n_buckets=B,
            k=K,
        )
        .orderBy("doc_id")
        .collect()
    )
    exp = _py_dsir(docs, target, B, K)
    assert [r.doc_id for r in got] == sorted(exp)  # 101 (NULL) absent
    for r in got:
        w, n = exp[r.doc_id]
        assert r.n_feats == n
        assert r.dsir_logweight == pytest.approx(w, abs=2e-6)
    # empty doc scored off its single empty-unigram feature
    assert exp[100][1] == 1


def test_dsir_in_domain_scores_higher(spark):
    docs, target = _mk_docs(), _mk_target()
    got = dsir_score(
        spark.createDataFrame(docs), spark.createDataFrame(target), n_buckets=B
    ).collect()
    w = {r.doc_id: r.dsir_logweight for r in got}
    wa = [w[i] for i in range(30) if i % 2 == 0]
    wb = [w[i] for i in range(30) if i % 2 == 1]
    assert min(wa) > max(wb)


def test_dsir_score_matches_duckdb_twin(spark):
    docs, target = _mk_docs(), _mk_target()
    got = (
        dsir_score(
            spark.createDataFrame(docs),
            spark.createDataFrame(target),
            n_buckets=B,
            k=K,
        )
        .orderBy("doc_id")
        .toPandas()
    )
    exp = duckdb_dsir_score(docs, target, n_buckets=B, k=K)
    assert list(got["doc_id"]) == list(exp["doc_id"])
    assert list(got["n_feats"]) == list(exp["n_feats"])
    np.testing.assert_allclose(
        got["dsir_logweight"], exp["dsir_logweight"], atol=2e-6
    )


@pytest.mark.parametrize("n_buckets", [0, 2**22 + 1])
def test_dsir_score_rejects_bucket_space_out_of_range(spark, n_buckets):
    """Both count vectors are collected to the driver and the weight
    table is one array cell, so the bucket space is bounded."""
    docs, target = _mk_docs(), _mk_target()
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_score(
            spark.createDataFrame(docs),
            spark.createDataFrame(target),
            n_buckets=n_buckets,
        )


def test_dsir_select_topn_deterministic(spark):
    docs, target = _mk_docs(), _mk_target()
    sel = dsir_select(
        spark.createDataFrame(docs),
        spark.createDataFrame(target),
        n=17,
        n_buckets=B,
    )
    ids = sorted(r.doc_id for r in sel.select("doc_id").collect())
    # the 15 in-domain docs outrank everything; the duplicate pair
    # "apple banana apple" (pure vocab-A) fills the last 2 slots —
    # equal weights, both inside n so both kept
    assert ids == [i for i in range(30) if i % 2 == 0] + [200, 201]
    # tie-break by id: with n=16 only doc 200 of the equal-weight pair
    sel16 = dsir_select(
        spark.createDataFrame(docs),
        spark.createDataFrame(target),
        n=16,
        n_buckets=B,
    )
    ids16 = sorted(r.doc_id for r in sel16.select("doc_id").collect())
    assert 200 in ids16 and 201 not in ids16
    # full doc rows + weight column come back
    assert set(sel.columns) == {"doc_id", "text", "dsir_logweight"}


# ------------------------------------------------------------------
# Quality classifier (fastText-style)
# ------------------------------------------------------------------
CLF_B = 1024


def _clf_train_sets():
    rng = np.random.RandomState(21)
    pos = [
        " ".join(VOCAB_A[j] for j in rng.randint(0, len(VOCAB_A), size=15))
        for _ in range(40)
    ]
    neg = [
        " ".join(VOCAB_B[j] for j in rng.randint(0, len(VOCAB_B), size=15))
        for _ in range(40)
    ]
    return pos, neg


def test_quality_classifier_separates_and_matches_python_margin(spark):
    from streetview_naturevisibility_spark.operators.textops import (
        score_quality_classifier,
        train_quality_classifier,
    )

    pos, neg = _clf_train_sets()
    w, b = train_quality_classifier(pos, neg, n_buckets=CLF_B)
    docs = _mk_docs()  # held-out A/B mix + empty + NULL + dup pair
    got = (
        score_quality_classifier(
            spark.createDataFrame(docs), w, b, id_col="doc_id"
        )
        .orderBy("doc_id")
        .collect()
    )
    probs = {r.doc_id: r.clf_prob for r in got}
    # NULL-text doc absent; empty doc present
    assert 101 not in probs and 100 in probs
    # held-out separation: every vocab-A doc above every vocab-B doc
    pa = [probs[i] for i in range(30) if i % 2 == 0]
    pb = [probs[i] for i in range(30) if i % 2 == 1]
    assert min(pa) > 0.5 > max(pb)
    # python margin twin (exact hash, tolerant sum)
    import hashlib
    import math

    def py_prob(text):
        toks = text.split(" ")
        grams = toks + [f"{x} {y}" for x, y in zip(toks, toks[1:])]
        z = (
            sum(
                w[int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % CLF_B]
                for g in grams
            )
            / len(grams)
            + b
        )
        return 1.0 / (1.0 + math.exp(-z))

    for _, r in docs.iterrows():
        if r["text"] is not None:
            assert probs[r["doc_id"]] == pytest.approx(
                py_prob(r["text"]), abs=2e-6
            )


def test_quality_classifier_matches_duckdb_twin(spark):
    from streetview_naturevisibility_spark.operators.textops import (
        score_quality_classifier,
        train_quality_classifier,
    )
    from tests.oracle import duckdb_score_quality

    pos, neg = _clf_train_sets()
    w, b = train_quality_classifier(pos, neg, n_buckets=CLF_B)
    docs = _mk_docs()
    got = (
        score_quality_classifier(
            spark.createDataFrame(docs), w, b, id_col="doc_id"
        )
        .orderBy("doc_id")
        .toPandas()
    )
    exp = duckdb_score_quality(docs, w, b, CLF_B)
    assert list(got["doc_id"]) == list(exp["doc_id"])
    np.testing.assert_allclose(got["clf_prob"], exp["clf_prob"], atol=2e-6)


# ------------------------------------------------------------------
# SemDeDup
# ------------------------------------------------------------------
DIM, NL, SEED, THR = 8, 4, 21, 0.92


def _unit(v):
    v = np.asarray(v, dtype=np.float64)
    return v / np.sqrt((v**2).sum())


def _mk_emb():
    """Planted structure with margin-safe cosines: an exact-dup pair,
    a near-dup pair (cos ~0.999), a sub-threshold pair (cos < 0.8),
    isolated vectors, and one NULL embedding."""
    rng = np.random.RandomState(5)
    rows = []
    base = _unit(rng.randn(DIM))
    rows.append((100, [float(x) for x in base]))  # exact dup pair
    rows.append((101, [float(x) for x in base]))
    nb = _unit(rng.randn(DIM))
    rows.append((200, [float(x) for x in nb]))  # near-dup pair
    rows.append((201, [float(x) for x in _unit(nb + 0.02 * rng.randn(DIM))]))
    far = _unit(rng.randn(DIM))
    rows.append((300, [float(x) for x in far]))  # far pair: orthogonal-ish
    rows.append((301, [float(x) for x in _unit(rng.randn(DIM))]))
    for i in range(10):  # background isolated vectors
        rows.append((400 + i, [float(x) for x in _unit(rng.randn(DIM))]))
    rows.append((999, None))
    return pd.DataFrame(rows, columns=["vec_id", "embedding"])


def _np_assign_ccos(v):
    cents = pinned_centroids(NL, DIM, SEED)
    d = ((cents - np.asarray(v)) ** 2).sum(axis=1)
    lid = int(d.argmin())
    c = cents[lid]
    cc = float(
        np.dot(v, c) / (np.sqrt(np.dot(v, v)) * np.sqrt(np.dot(c, c)))
    )
    return lid, cc


def _spark_emb(spark, pdf):
    return spark.createDataFrame(
        [(int(r.vec_id), r.embedding) for r in pdf.itertuples()],
        "vec_id bigint, embedding array<double>",
    )


def test_semantic_dedup_keep_rules(spark):
    pdf = _mk_emb()
    out = {
        r.vec_id: r
        for r in semantic_dedup(
            _spark_emb(spark, pdf), threshold=THR, n_lists=NL, dim=DIM
        ).collect()
    }
    # exact-dup pair: equal centroid_cos -> lower id survives
    assert out[100].kept and not out[101].kept
    assert out[100].centroid_cos == out[101].centroid_cos
    # near-dup pair: exactly one survives — the one closer to the
    # centroid (margin-safe: numpy ccos diff >> fold ulp)
    l0, c0 = _np_assign_ccos(pdf.loc[pdf.vec_id == 200, "embedding"].iloc[0])
    l1, c1 = _np_assign_ccos(pdf.loc[pdf.vec_id == 201, "embedding"].iloc[0])
    if l0 == l1:  # same cluster: keep rule applies
        assert abs(c0 - c1) > 1e-9
        winner, loser = (200, 201) if c0 > c1 else (201, 200)
        assert out[winner].kept and not out[loser].kept
    # sub-threshold + isolated vectors all kept
    for vid in [300, 301] + [400 + i for i in range(10)]:
        assert out[vid].kept
    # NULL embedding: kept, NULL cluster
    assert out[999].kept and out[999].list_id is None


def test_semantic_dedup_keep_farthest_flips_winner(spark):
    pdf = _mk_emb()
    l0, c0 = _np_assign_ccos(pdf.loc[pdf.vec_id == 200, "embedding"].iloc[0])
    l1, c1 = _np_assign_ccos(pdf.loc[pdf.vec_id == 201, "embedding"].iloc[0])
    if l0 != l1:
        pytest.skip("near-dup pair straddles clusters for this seed")
    out = {
        r.vec_id: r
        for r in semantic_dedup(
            _spark_emb(spark, pdf),
            threshold=THR,
            n_lists=NL,
            dim=DIM,
            keep="farthest",
        ).collect()
    }
    winner = 200 if c0 < c1 else 201
    loser = 201 if winner == 200 else 200
    assert out[winner].kept and not out[loser].kept
    # exact ties unaffected by the flip: lower id still wins
    assert out[100].kept and not out[101].kept


def test_semantic_dedup_matches_duckdb_twin(spark):
    pdf = _mk_emb()
    got = (
        semantic_dedup(
            _spark_emb(spark, pdf),
            threshold=THR,
            n_lists=NL,
            dim=DIM,
            max_cluster=None,
        )
        .orderBy("vec_id")
        .toPandas()
    )
    exp = duckdb_semantic_dedup(
        pdf, threshold=THR, n_lists=NL, dim=DIM, seed=SEED
    )
    assert list(got["vec_id"]) == list(exp["vec_id"])
    assert list(got["kept"]) == list(exp["kept"])
    ga = got["list_id"].astype("float64")
    ea = exp["list_id"].astype("float64")
    assert list(ga.fillna(-1)) == list(ea.fillna(-1))
    np.testing.assert_allclose(
        got["centroid_cos"].fillna(0.0),
        exp["centroid_cos"].fillna(0.0),
        atol=1e-9,
    )


def test_semantic_dedup_cluster_cap_drops_pairs_with_metrics(spark):
    pdf = _mk_emb()
    out, metrics = semantic_dedup(
        _spark_emb(spark, pdf),
        threshold=THR,
        n_lists=NL,
        dim=DIM,
        max_cluster=1,
        return_metrics=True,
    )
    # every cluster over the cap skips pair generation: nothing dropped
    rows = out.collect()
    assert all(r.kept for r in rows)
    m = metrics.collect()[0]
    assert m.dropped_buckets >= 1 and m.dropped_members >= 2


def test_semantic_dedup_incremental_against_stored_index(spark, tmp_path):
    """Ingest-batch dedup against a materialized IVF index: a batch
    copy of an indexed vector is dropped (existing corpus wins), fresh
    vectors are kept, a within-batch duplicate pair keeps its lower
    id, and a NULL embedding is kept with a NULL cluster. Only the
    batch's clusters are scanned (partition pruning on list_id)."""
    rng = np.random.RandomState(31)
    corpus = pd.DataFrame(
        {
            "vec_id": list(range(40)),
            "embedding": [
                [float(x) for x in _unit(rng.randn(DIM))] for _ in range(40)
            ],
        }
    )
    idx = str(tmp_path / "ivf_idx")
    build_ivf_index(_spark_emb(spark, corpus), idx, n_lists=4)

    fresh = _unit(rng.randn(DIM))
    batch = pd.DataFrame(
        {
            "vec_id": [500, 501, 502, 503, 504],
            "embedding": [
                corpus["embedding"][7],  # exact copy of an indexed vec
                [float(x) for x in fresh],  # within-batch dup pair...
                [float(x) for x in fresh],  # ...501 wins over 502
                [float(x) for x in _unit(rng.randn(DIM))],  # fresh
                None,  # NULL embedding
            ],
        }
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup_incremental(
            _spark_emb(spark, batch), idx, threshold=0.95
        ).collect()
    }
    assert not out[500].kept  # killed by the indexed twin
    assert out[501].kept and not out[502].kept  # batch pair: lower id
    assert out[503].kept
    assert out[504].kept and out[504].list_id is None
    # a batch against an empty-overlap cluster set keeps everything
    out2 = semantic_dedup_incremental(
        _spark_emb(spark, batch.iloc[3:4]), idx, threshold=0.999999
    ).collect()
    assert all(r.kept for r in out2)
    with pytest.raises(ValueError, match="keep"):
        semantic_dedup_incremental(_spark_emb(spark, batch), idx, keep="all")


def test_semantic_dedup_rejects_bad_keep(spark):
    with pytest.raises(ValueError, match="keep"):
        semantic_dedup(_spark_emb(spark, _mk_emb()), keep="best")
    with pytest.raises(ValueError, match="assign"):
        semantic_dedup(_spark_emb(spark, _mk_emb()), assign="fit")
    with pytest.raises(ValueError, match="pairs"):
        semantic_dedup(_spark_emb(spark, _mk_emb()), pairs="bucket")
    with pytest.raises(ValueError, match="requires assign"):
        semantic_dedup(_spark_emb(spark, _mk_emb()), pairs="local")


def test_semantic_dedup_accepts_fitted_centroids(spark):
    """A data-adapted quantizer plugs in via centroids=: planted
    exact-dup pair still collapses (identical vectors share a cluster
    under ANY quantizer), keep rule unchanged."""
    pdf = _mk_emb()
    fit = kmeans_fit(
        np.stack(pdf.dropna(subset=["embedding"])["embedding"].to_list()),
        k=3,
        iters=3,
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup(
            _spark_emb(spark, pdf),
            threshold=THR,
            n_lists=3,
            dim=DIM,
            assign="udf",
            pairs="local",
            centroids=fit,
        ).collect()
    }
    assert out[100].kept and not out[101].kept
    assert out[100].list_id == out[101].list_id


@pytest.mark.parametrize("keep", ["closest", "farthest"])
def test_semantic_dedup_local_pairs_matches_join(spark, keep):
    """pairs='local' (per-cluster BLAS dominance) must agree with the
    pair-join path on kept sets for both keep rules (margin-safe
    fixture: BLAS vs fold dots differ only in the last ulp)."""
    pdf = _mk_emb()
    join_out = (
        semantic_dedup(
            _spark_emb(spark, pdf),
            threshold=THR,
            n_lists=NL,
            dim=DIM,
            keep=keep,
            assign="udf",
        )
        .orderBy("vec_id")
        .toPandas()
    )
    local_out = (
        semantic_dedup(
            _spark_emb(spark, pdf),
            threshold=THR,
            n_lists=NL,
            dim=DIM,
            keep=keep,
            assign="udf",
            pairs="local",
        )
        .orderBy("vec_id")
        .toPandas()
    )
    assert list(join_out["vec_id"]) == list(local_out["vec_id"])
    assert list(join_out["kept"]) == list(local_out["kept"])
    assert join_out["kept"].sum() < len(join_out)  # fixture has dups


def test_semantic_dedup_udf_assignment_matches_column_path(spark):
    """assign='udf' (Arrow matmul — the large-n_lists scale path) must
    agree with the literal-Column path on assignments, kept sets, and
    centroid cosines (to FP tolerance; the matmul expands |v-c|^2 =
    |v|^2 - 2v.c + |c|^2, a different but equivalent arithmetic),
    including the NULL-embedding row."""
    pdf = _mk_emb()
    col = (
        semantic_dedup(_spark_emb(spark, pdf), threshold=THR, n_lists=NL, dim=DIM)
        .orderBy("vec_id")
        .toPandas()
    )
    udf = (
        semantic_dedup(
            _spark_emb(spark, pdf),
            threshold=THR,
            n_lists=NL,
            dim=DIM,
            assign="udf",
        )
        .orderBy("vec_id")
        .toPandas()
    )
    assert list(col["vec_id"]) == list(udf["vec_id"])
    assert list(col["kept"]) == list(udf["kept"])
    assert list(col["list_id"].astype("float64").fillna(-1)) == list(
        udf["list_id"].astype("float64").fillna(-1)
    )
    np.testing.assert_allclose(
        col["centroid_cos"].fillna(0.0).astype(float),
        udf["centroid_cos"].fillna(0.0).astype(float),
        atol=1e-9,
    )


# ------------------------------------------------------------------
# fix_text encoding cleanup
# ------------------------------------------------------------------
def _fix_fixture():
    rows = [
        (0, "cafÃ© crÃ¨me"),          # mojibake é è
        (1, "itâ€™s â€œokâ€\x9d"),  # ’ “ ”
        (2, "dash â€“ here â€¦"),  # – …
        (3, "nbspÂ space and　ideographic"),  # Â+nbsp, U+3000
        (4, "ctrl\x01chars\x0cstripped\x9f"),
        (5, "already clean text"),
        (6, ""),
        (7, None),
        # legitimate U+00C2 before a letter must SURVIVE (Vietnamese
        # 'Ân'); the marker strip only fires before space/punct
        (8, "Vietnamese Ân Độ stays"),
        (9, "residueÂ , markÂ."),
    ]
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def test_fix_text_hand_goldens(spark):
    from streetview_naturevisibility_spark.operators.textops import fix_text

    out = {
        r.doc_id: (r.text_fixed, r.changed)
        for r in fix_text(spark.createDataFrame(_fix_fixture())).collect()
    }
    assert out[0] == ("café crème", True)
    assert out[1] == ("it’s “ok”", True)
    assert out[2] == ("dash – here …", True)
    assert out[3] == ("nbsp space and ideographic", True)
    assert out[4] == ("ctrlcharsstripped", True)
    assert out[5] == ("already clean text", False)
    assert out[6] == ("", False)
    assert out[7] == (None, False)
    assert out[8] == ("Vietnamese Ân Độ stays", False)
    assert out[9] == ("residue , mark.", True)


def test_fix_text_matches_duckdb_twin(spark):
    from streetview_naturevisibility_spark.operators.textops import (
        _SPACES,
        MOJIBAKE_TABLE,
        fix_text,
    )
    from tests.oracle import duckdb_fix_text

    pdf = _fix_fixture()
    got = (
        fix_text(spark.createDataFrame(pdf)).orderBy("doc_id").toPandas()
    )
    exp = duckdb_fix_text(pdf, MOJIBAKE_TABLE, _SPACES)
    assert list(got["doc_id"]) == list(exp["doc_id"])
    assert list(got["text_fixed"].fillna("~")) == list(exp["text_fixed"].fillna("~"))
    assert list(got["changed"]) == list(exp["changed"])


# ------------------------------------------------------------------
# Sequence packing
# ------------------------------------------------------------------
def test_pack_assignments_hand_golden_and_twin(spark):
    from streetview_naturevisibility_spark.operators.corpus import (
        pack_assignments,
    )
    from tests.oracle import duckdb_pack_assignments

    rows = [
        (0, "a b c d"),        # 4 tokens, before=0  -> bin 0
        (1, "e f g"),          # 3, before=4         -> bin 0
        (2, "h i j k l"),      # 5, before=7         -> bin 0
        (3, "m n"),            # 2, before=12        -> bin 1
        (4, None),             # 0, before=14        -> bin 1
        (5, "o p q r s t u v w x y z A B"),  # 14, before=14 -> bin 1
        (6, "C"),              # 1, before=28        -> bin 2
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    got = (
        pack_assignments(spark.createDataFrame(pdf), budget_tokens=10)
        .orderBy("doc_id")
        .collect()
    )
    assert [(r.doc_id, r.n_tokens, r.bin_id) for r in got] == [
        (0, 4, 0), (1, 3, 0), (2, 5, 0), (3, 2, 1), (4, 0, 1),
        (5, 14, 1), (6, 1, 2),
    ]
    exp = duckdb_pack_assignments(pdf, 10)
    assert [(r.doc_id, r.n_tokens, r.bin_id) for r in got] == list(
        exp.itertuples(index=False, name=None)
    )


def test_pack_bucketed_decomposition_matches_global(spark):
    """bucket_span=3 (many buckets) must equal bucket_span=10^9 (one
    bucket == the plain global window) on a sparse-id corpus — the
    prefix-sum recomposition is exact."""
    from streetview_naturevisibility_spark.operators.corpus import (
        pack_assignments,
    )

    rng = np.random.RandomState(41)
    rows = []
    nid = 0
    for _ in range(200):
        nid += int(rng.randint(1, 7))  # sparse, gapped ids
        rows.append((nid, " ".join("w" for _ in range(int(rng.randint(0, 30))))))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    a = (
        pack_assignments(spark.createDataFrame(pdf), 57, bucket_span=3)
        .orderBy("doc_id")
        .collect()
    )
    b = (
        pack_assignments(spark.createDataFrame(pdf), 57, bucket_span=10**9)
        .orderBy("doc_id")
        .collect()
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_pack_rows_materializes_ordered_rows(spark):
    from streetview_naturevisibility_spark.operators.corpus import pack_rows

    rows = [
        (0, "a b c d"), (1, "e f g"), (2, "h i j k l"),
        (3, "m n"), (4, None), (5, "single"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    got = {
        r.bin_id: r
        for r in pack_rows(
            spark.createDataFrame(pdf), budget_tokens=10, sep=" | "
        ).collect()
    }
    assert got[0].packed_text == "a b c d | e f g | h i j k l"
    assert got[0].n_docs == 3 and got[0].n_tokens == 12
    # NULL text -> empty segment, still in id order
    assert got[1].packed_text == "m n |  | single"
    assert got[1].n_docs == 3


def test_fix_text_two_passes_converge_interleaved_corruption(spark):
    """A property probe found single-pass non-fixpoints: control chars
    or stray markers lodged INSIDE a mojibake pair re-form the pair
    after stripping, and doubly-encoded text reveals its inner layer
    only after the outer repair. passes=2 converges every probe case
    (the ftfy iteration rationale); the DuckDB twin unrolls
    identically."""
    from streetview_naturevisibility_spark.operators.textops import (
        _SPACES,
        MOJIBAKE_TABLE,
        fix_text,
    )
    from tests.oracle import duckdb_fix_text

    cases = [
        ("Ã\x01©", "é"),          # ctrl inside Ã© -> é
        ("ÃÂ©", "é"),        # Â marker inside Ã©
        ("Ã¢€™", "’"),  # double-encoded ’
    ]
    pdf = pd.DataFrame(
        {"doc_id": range(len(cases)), "text": [c[0] for c in cases]}
    )
    two = {
        r.doc_id: r.text_fixed
        for r in fix_text(spark.createDataFrame(pdf), passes=2).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert two[i] == want
    exp = duckdb_fix_text(pdf, MOJIBAKE_TABLE, _SPACES, passes=2)
    assert list(exp["text_fixed"]) == [c[1] for c in cases]
    # single pass leaves each case un-converged (documented contract)
    one = {
        r.doc_id: r.text_fixed
        for r in fix_text(spark.createDataFrame(pdf)).collect()
    }
    assert all(one[i] != cases[i][1] for i in range(len(cases)))
