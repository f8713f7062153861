"""Dedup & similarity operators vs brute-force NumPy oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from streetview_naturevisibility_spark.operators import dedup, similarity, textops
from tests.oracle import jvm_minhash_fold

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def docs_pd(spark, docs):
    return docs.toPandas()


def _shingle_set(text: str, n: int = 3) -> set:
    toks = text.split(" ")
    m = max(len(toks) - n + 1, 1)
    return {" ".join(toks[i : i + n]) for i in range(m)}


def _true_jaccard_pairs(docs_pd: pd.DataFrame, threshold: float, n: int = 3) -> dict:
    sets = {r.doc_id: _shingle_set(r.text, n) for r in docs_pd.itertuples()}
    ids = sorted(sets)
    out = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= threshold:
                out[(a, b)] = j
    return out


class TestMinhashLSH:
    def test_verified_pairs_are_exact_and_recall_is_high(self, spark, docs, docs_pd):
        thr = 0.2
        got = dedup.minhash_lsh_pairs(docs, k=32, bands=16, jaccard_threshold=thr).toPandas()
        truth = _true_jaccard_pairs(docs_pd, thr)
        # precision: every reported pair is a true pair with the exact score
        for r in got.itertuples():
            key = (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
            assert key in truth
            assert abs(r.jaccard - truth[key]) < 1e-5
        # recall vs LSH theory: with k=32, b=16, r=2 a pair at j>=0.45
        # collides with prob >= 1-(1-j^2)^16 ~ 0.97
        strong = {k for k, j in truth.items() if j >= 0.45}
        found = {(min(a, b), max(a, b)) for a, b in zip(got.id_a, got.id_b)}
        if strong:
            assert len(strong & found) / len(strong) >= 0.9

    def test_md5_portable_mode_exact_and_high_recall(self, spark, docs, docs_pd):
        """The engine-portable (md5 shingle hash, string band keys)
        variant used by the oracle-exact contract row keeps the same
        precision/recall properties as the xxhash64 fast path."""
        thr = 0.2
        got = dedup.minhash_lsh_pairs(
            docs, k=32, bands=16, jaccard_threshold=thr, hash_method="md5"
        ).toPandas()
        truth = _true_jaccard_pairs(docs_pd, thr)
        for r in got.itertuples():
            key = (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
            assert key in truth
            assert abs(r.jaccard - truth[key]) < 1e-5
        # with k=32, b=16, r=2 a pair at j>=0.6 collides with prob
        # ~1-(1-0.36)^16 > 0.999 (0.45-strength pairs are coin flips
        # either hash family can miss)
        strong = {k for k, j in truth.items() if j >= 0.6}
        found = {(min(a, b), max(a, b)) for a, b in zip(got.id_a, got.id_b)}
        if strong:
            assert len(strong & found) / len(strong) >= 0.9

    def test_signatures_deterministic(self, spark, docs):
        s1 = dedup.minhash_signatures(docs, k=8).orderBy("id").toPandas()
        s2 = dedup.minhash_signatures(docs.repartition(7), k=8).orderBy("id").toPandas()
        assert s1["minhash"].map(tuple).tolist() == s2["minhash"].map(tuple).tolist()


class TestSimhash:
    def test_kernel_matches_bit_majority(self):
        texts = pd.Series(["alpha beta gamma", "alpha beta gamma", "alpha beta delta"])
        sigs = dedup.simhash_kernel(texts)
        assert sigs[0] == sigs[1]
        assert sigs[0] != sigs[2]
        # hamming distance between near-identical docs is small
        ham = bin(int(sigs[0]) ^ int(sigs[2])).count("1")
        assert ham <= 32

    def test_pairs_verified_by_popcount(self, spark, docs):
        pairs = dedup.simhash_near_dups(docs, max_hamming=3).toPandas()
        sigs = {
            r.id: r.sig
            for r in docs.select(
                F.col("doc_id").alias("id"),
                dedup.simhash_udf(F.col("text")).alias("sig"),
            ).collect()
        }
        for r in pairs.itertuples():
            assert bin(sigs[r.id_a] ^ sigs[r.id_b]).count("1") == r.hamming
            assert r.hamming <= 3


class TestTokenJaccard:
    def test_matches_bruteforce_within_buckets(self, spark, docs, docs_pd):
        got = dedup.token_jaccard_pairs(docs, threshold=0.7).toPandas()
        # oracle: token SETS, same bucketing constraint
        sets = {r.doc_id: set(r.text.split(" ")) for r in docs_pd.itertuples()}
        exact = {}
        for a in sets:
            for b in sets:
                if a >= b:
                    continue
                na, nb = len(sets[a]) // 10, len(sets[b]) // 10
                if abs(na - nb) > 1:
                    continue
                inter = len(sets[a] & sets[b])
                j = inter / (len(sets[a]) + len(sets[b]) - inter)
                if j >= 0.7:
                    exact[(a, b)] = j
        got_keys = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)) for r in got.itertuples()}
        assert got_keys == set(exact)


class TestSimilarity:
    def test_brute_force_matches_numpy(self, spark):
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        pdf = emb.toPandas()
        mat = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
        q = mat[0]
        cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        order = np.lexsort((pdf["vec_id"].to_numpy(), -cos))[:10]
        expected = pdf["vec_id"].to_numpy()[order].tolist()
        got = similarity.brute_force_topk(emb, q.tolist(), 10).toPandas()
        assert got["id"].tolist() == expected
        assert np.abs(got["cosine"].to_numpy() - np.sort(cos)[::-1][:10]).max() < 1e-5

    def test_ann_results_subset_of_exact_ranking(self, spark):
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        q = list(emb.where(F.col("vec_id") == 3).first().embedding)
        exact = similarity.brute_force_topk(emb, q, 50).toPandas()
        ann = similarity.ann_topk_lsh(emb, q, 10, n_planes=6).toPandas()
        # every ANN result carries its true cosine; top-1 must be the
        # query's own vector (sig-identical bucket)
        assert ann["id"].iloc[0] == 3
        assert ann["cosine"].iloc[0] == pytest.approx(1.0, abs=1e-6)

    def test_cosine_near_dup_subset_of_exact(self, spark):
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        got = similarity.cosine_near_dup_pairs(emb, threshold=0.3, n_planes=4).toPandas()
        pdf = emb.toPandas()
        mat = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
        norms = np.linalg.norm(mat, axis=1)
        ids = pdf["vec_id"].to_numpy()
        idx = {v: i for i, v in enumerate(ids)}
        for r in got.itertuples():
            a, b = idx[r.id_a], idx[r.id_b]
            true_cos = float(mat[a] @ mat[b] / (norms[a] * norms[b]))
            assert true_cos >= 0.3 - 1e-9
            assert abs(true_cos - r.cosine) < 1e-5


class TestTextops:
    def test_lang_id_mostly_en_on_synthetic_docs(self, spark, docs):
        out = docs.select(textops.lang_id_col("text").alias("lang")).groupBy("lang").count()
        counts = {r.lang: r["count"] for r in out.collect()}
        assert counts.get("en", 0) > 0.5 * sum(counts.values())

    def test_quality_and_fingerprint_deterministic(self, spark, docs):
        a = textops.analyze_documents(docs).orderBy("doc_id").toPandas()
        b = textops.analyze_documents(docs.repartition(9)).orderBy("doc_id").toPandas()
        pd.testing.assert_frame_equal(a, b)
        assert ((a["quality_score"] >= 0) & (a["quality_score"] <= 1)).all()
        assert (a["n_tokens"] > 0).all()


class TestIVF:
    def test_ivf_topk_contains_query_and_valid_cosines(self, spark):
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        q = list(emb.where(F.col("vec_id") == 7).first().embedding)
        got = similarity.ivf_topk_pinned(emb, q, k=10, n_lists=8, n_probe=2).toPandas()
        # the query's own vector lives in the nearest list -> rank 1
        assert got["id"].iloc[0] == 7
        assert got["cosine"].iloc[0] == pytest.approx(1.0, abs=1e-6)
        # reported cosines are the true cosines
        pdf = emb.toPandas()
        mat = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
        ids = pdf["vec_id"].to_numpy()
        idx = {v: i for i, v in enumerate(ids)}
        qv = np.asarray(q)
        for r in got.itertuples():
            v = mat[idx[r.id]]
            true_cos = float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
            assert abs(true_cos - r.cosine) < 1e-5

    def test_ivf_deterministic(self, spark):
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        q = list(emb.where(F.col("vec_id") == 7).first().embedding)
        a = similarity.ivf_topk_pinned(emb, q, k=5).toPandas()
        b = similarity.ivf_topk_pinned(emb.repartition(9), q, k=5).toPandas()
        assert a["id"].tolist() == b["id"].tolist()

    def test_ivf_pinned_matches_numpy_restricted_bruteforce(self, spark):
        """ivf_topk_pinned (the oracle-exact contract variant) must
        equal a NumPy brute-force ranking restricted to the probed
        lists, with the same literal centroids + assignment rule."""
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        q = list(emb.where(F.col("vec_id") == 7).first().embedding)
        got = similarity.ivf_topk_pinned(emb, q, k=10, n_lists=8, n_probe=2).toPandas()

        cents = similarity.pinned_centroids(8, 64, seed=21)
        pdf = emb.toPandas()
        mat = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
        ids = pdf["vec_id"].to_numpy()
        d2 = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        qv = np.asarray(q, dtype=np.float64)
        qd = ((cents - qv) ** 2).sum(axis=1)
        probe = set(np.argsort(qd, kind="stable")[:2].tolist())
        mask = np.isin(assign, list(probe))
        cos = (mat[mask] @ qv) / (
            np.sqrt((mat[mask] ** 2).sum(axis=1)) * np.linalg.norm(qv)
        )
        order = sorted(zip(-cos, ids[mask]))[:10]
        assert got["id"].tolist() == [int(i) for _, i in order]
        for r, (negc, _) in zip(got.itertuples(), order):
            assert abs(-negc - r.cosine) < 1e-5
        # lists are direction-balanced: the probed subset is a strict
        # subset of the corpus (the operator actually pruned)
        assert mask.sum() < len(ids)

    def test_ivf_pinned_plan_has_no_python_udf(self, spark):
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        q = list(emb.where(F.col("vec_id") == 7).first().embedding)
        plan = similarity.ivf_topk_pinned(emb, q, k=10)._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestSkewCap:
    """Adversarial boilerplate skew: one bucket holding 50% of docs must
    be dropped by the `max_bucket` cap (with metrics — no silent cap)
    while ordinary near-dup pairs outside the hot bucket survive."""

    N_BOILER = 100

    @pytest.fixture(scope="class")
    def skew_docs(self, spark):
        rows = []
        boiler = " ".join(f"common{i}" for i in range(30))
        for i in range(self.N_BOILER):
            rows.append((i, boiler))
        # 40 distinct docs incl. 4 planted near-dup pairs
        for i in range(40):
            base = [f"tok{i}_{j}" for j in range(30)]
            rows.append((1000 + i, " ".join(base)))
            if i < 4:
                mut = list(base)
                mut[-1] = f"mut{i}"
                rows.append((2000 + i, " ".join(mut)))
        return spark.createDataFrame(rows, "doc_id: long, text: string")

    def test_minhash_cap_drops_hot_bucket_keeps_pairs(self, spark, skew_docs):
        pairs, metrics = dedup.minhash_lsh_pairs(
            skew_docs, k=32, bands=16, jaccard_threshold=0.5,
            max_bucket=50, return_metrics=True,
        )
        got = pairs.toPandas()
        m = metrics.collect()[0]
        assert m.dropped_buckets > 0
        assert m.dropped_members >= self.N_BOILER
        # no pair where both sides are boilerplate (its bucket was dropped)
        assert not (
            (got.id_a < self.N_BOILER) & (got.id_b < self.N_BOILER)
        ).any()
        # all 4 planted pairs survive (their buckets are tiny)
        found = {(a, b) for a, b in zip(got.id_a, got.id_b)}
        for i in range(4):
            assert (1000 + i, 2000 + i) in found
        # candidate volume is bounded: without the cap the boilerplate
        # bucket alone yields C(100,2)=4950 pairs
        uncapped = dedup.minhash_lsh_pairs(
            skew_docs, k=32, bands=16, jaccard_threshold=0.5, max_bucket=None
        ).count()
        assert uncapped >= 4950
        assert len(got) < 100

    def test_simhash_cap(self, spark, skew_docs):
        pairs, metrics = dedup.simhash_near_dups(
            skew_docs, max_hamming=10, max_bucket=50, return_metrics=True
        )
        got = pairs.toPandas()
        m = metrics.collect()[0]
        assert m.dropped_buckets >= 4  # all 4 chunks of the boiler sig
        assert not (
            (got.id_a < self.N_BOILER) & (got.id_b < self.N_BOILER)
        ).any()
        found = {(a, b) for a, b in zip(got.id_a, got.id_b)}
        # near-identical planted docs share >=1 small chunk bucket
        assert sum((1000 + i, 2000 + i) in found for i in range(4)) >= 3

    def test_cosine_near_dup_cap(self, spark):
        import numpy as np

        rng = np.random.RandomState(5)
        rows = []
        hot = rng.randn(16).astype(np.float32)
        for i in range(self.N_BOILER):
            rows.append((i, [float(v) for v in hot]))
        for i in range(20):
            v = rng.randn(16).astype(np.float32)
            rows.append((1000 + i, [float(x) for x in v]))
            if i < 3:
                rows.append((2000 + i, [float(x) * 2.0 for x in v]))
        emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
        pairs, metrics = similarity.cosine_near_dup_pairs(
            emb, threshold=0.99, n_planes=8, dim=16,
            max_bucket=50, return_metrics=True,
        )
        got = pairs.toPandas()
        m = metrics.collect()[0]
        assert m.dropped_buckets >= 1
        assert m.dropped_members >= self.N_BOILER
        assert not ((got.id_a < self.N_BOILER) & (got.id_b < self.N_BOILER)).any()
        found = {(a, b) for a, b in zip(got.id_a, got.id_b)}
        # scaled clones have identical hyperplane signs -> always found
        for i in range(3):
            assert (1000 + i, 2000 + i) in found


class TestFingerprintValues:
    """Exact value oracle for the rolling-hash fingerprint (pure-Python
    independent implementation in tests/oracle.py) — not just
    determinism."""

    PINNED = [
        "",  # empty -> 0
        "single",
        "two tokens",
        "a b c d e f g",  # 7 tokens: one sub-window hash
        "a b c d e f g h",  # exactly the window
        "the quick brown fox jumps over the lazy dog again and again",
        "nul\x00token inside text here ok yes no maybe",
    ]

    def test_kernel_matches_pure_python_oracle(self):
        import pandas as pd

        from streetview_naturevisibility_spark.operators.textops import (
            _fingerprint_kernel,
        )
        from tests.oracle import oracle_fingerprint

        got = _fingerprint_kernel(pd.Series(self.PINNED))
        for text, g in zip(self.PINNED, got):
            assert int(g) == oracle_fingerprint(text), repr(text)

    def test_spark_udf_matches_oracle_on_documents(self, spark, docs, docs_pd):
        from streetview_naturevisibility_spark.operators.textops import fingerprint_udf
        from tests.oracle import oracle_fingerprint

        got = (
            docs.select("doc_id", fingerprint_udf(F.col("text")).alias("fp"))
            .orderBy("doc_id")
            .toPandas()
        )
        truth = {
            r.doc_id: oracle_fingerprint(r.text)
            for r in docs_pd.head(50).itertuples()
        }
        checked = 0
        for r in got.itertuples():
            if r.doc_id in truth:
                assert int(r.fp) == truth[r.doc_id]
                checked += 1
        assert checked == len(truth) > 0


class TestSimhashMd5Portable:
    def test_column_algebra_signature_matches_hashlib_twin(self, spark):
        """The portable 60-bit SimHash (pure column algebra) must equal
        an independent hashlib/python recompute bit for bit."""
        import hashlib

        from pyspark.sql import functions as F

        texts = [
            "the quick brown fox jumps over the lazy dog",
            "alpha beta gamma delta epsilon zeta eta theta",
            "one",
        ]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id: long, text: string")
        got = (
            df.select("id", dedup.simhash_sig_md5_col("text").alias("sig"))
            .orderBy("id")
            .toPandas()
        )
        for i, t in enumerate(texts):
            toks = sorted(set(t.split(" ")))
            hs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in toks]
            n = len(hs)
            sig = 0
            for b in range(dedup.SIMHASH_MD5_BITS):
                ones = sum((h >> b) & 1 for h in hs)
                if 2 * ones > n:
                    sig |= 1 << b
            assert int(got["sig"].iloc[i]) == sig, t


class TestJaccardBucketCompleteness:
    def test_wide_size_gap_pair_found(self, spark):
        """jaccard(A,B) >= t with |A|=19, |B|=35 (A subset of B): the
        sizes span more than one length bucket, so the old neighbor-
        bucket join missed the pair entirely (review repro)."""
        from streetview_naturevisibility_spark.operators import dedup

        a_toks = [f"w{i}" for i in range(19)]
        b_toks = [f"w{i}" for i in range(35)]
        docs = spark.createDataFrame(
            [(1, " ".join(a_toks)), (2, " ".join(b_toks))],
            "doc_id: long, text: string",
        )
        got = dedup.token_jaccard_pairs(docs, threshold=0.5).collect()
        assert len(got) == 1
        assert got[0].id_a == 1 and got[0].id_b == 2
        assert abs(got[0].jaccard - 19 / 35) < 1e-6

    def test_bands_must_divide_k(self, spark):
        import pytest as _pt

        from streetview_naturevisibility_spark.operators import dedup

        docs = spark.createDataFrame([(1, "a b c")], "doc_id: long, text: string")
        with _pt.raises(ValueError, match="must divide"):
            dedup.minhash_lsh_pairs(docs, k=32, bands=6)


class TestTokenmixWideN:
    def test_n4_shingles_with_shared_3_prefix_do_not_collide(self, spark):
        """Regression (review finding): _MIX_C had only 3 constants, so
        n>3 windows silently hashed their first 3 tokens — distinct
        4-grams sharing a 3-token prefix collided and inflated MinHash
        Jaccard. With per-position constants the hash sets must differ."""
        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c e")], "doc_id: long, text: string"
        )
        got = (
            docs.select(
                "doc_id",
                dedup.tokenmix_shingle_hashes("text", n=4).alias("hs"),
            )
            .orderBy("doc_id")
            .collect()
        )
        assert set(got[0].hs) != set(got[1].hs)
        # and each doc yields exactly one 4-gram window
        assert len(got[0].hs) == 1 and len(got[1].hs) == 1

    def test_n4_jaccard_exact_on_overlapping_docs(self, spark):
        """tokenmix n=4 end-to-end: jaccard of hash sets equals true
        4-gram shingle jaccard (no collisions on small inputs)."""
        a = "t0 t1 t2 t3 t4 t5 t6 t7"
        b = "t0 t1 t2 t3 t4 x5 x6 x7"
        docs = spark.createDataFrame(
            [(1, a), (2, b)], "doc_id: long, text: string"
        )
        pairs = dedup.minhash_lsh_pairs(
            docs, k=32, bands=16, n=4, jaccard_threshold=0.0,
            hash_method="tokenmix",
        ).collect()
        truth = _true_jaccard_pairs(
            pd.DataFrame({"doc_id": [1, 2], "text": [a, b]}), 0.0, n=4
        )
        assert len(pairs) == 1
        assert abs(pairs[0].jaccard - truth[(1, 2)]) < 1e-6

    def test_n_above_mix_constants_raises(self, spark):
        import pytest as _pt

        with _pt.raises(ValueError, match="tokenmix supports"):
            dedup.tokenmix_shingle_hashes("text", n=9)


class TestTokenmixPropertyExactness:
    def test_hashset_jaccard_matches_string_shingles_any_n(self, spark):
        """Property (hypothesis): for random small corpora and any
        n in 2..8, tokenmix hash-set Jaccard == true n-gram string
        Jaccard (no collisions at these sizes, no window truncation —
        the regression class the _MIX_C fix closed)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        token = st.integers(min_value=0, max_value=30).map(lambda i: f"t{i}")
        doc = st.lists(token, min_size=1, max_size=25).map(" ".join)

        @settings(max_examples=15, deadline=None)
        @given(doc, doc, st.integers(min_value=2, max_value=8))
        def case(a, b, n):
            docs = spark.createDataFrame(
                [(1, a), (2, b)], "doc_id: long, text: string"
            )
            got = (
                docs.select(
                    "doc_id", dedup.tokenmix_shingle_hashes("text", n).alias("hs")
                )
                .orderBy("doc_id")
                .collect()
            )
            sa, sb = set(got[0].hs), set(got[1].hs)
            ja = len(sa & sb) / len(sa | sb)
            ta, tb = _shingle_set(a, n), _shingle_set(b, n)
            want = len(ta & tb) / len(ta | tb)
            assert abs(ja - want) < 1e-12, (a, b, n)

        case()


class TestPairGenHybrid:
    """r7 candidate generation: in-row combination expansion for small
    buckets vs streamed self-join for buckets above _PAIR_GEN_MAX —
    both paths must emit the identical verified pair set."""

    def test_big_bucket_selfjoin_path_equals_combination_path(
        self, spark, docs, monkeypatch
    ):
        base = dedup.minhash_lsh_pairs(
            docs, jaccard_threshold=0.5, hash_method="tokenmix"
        ).toPandas()
        # force EVERY eligible bucket through the big-bucket self-join
        monkeypatch.setattr(dedup, "_PAIR_GEN_MAX", 1)
        forced = dedup.minhash_lsh_pairs(
            docs, jaccard_threshold=0.5, hash_method="tokenmix"
        ).toPandas()
        key = ["id_a", "id_b", "jaccard"]
        a = base[key].sort_values(key).reset_index(drop=True)
        b = forced[key].sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)
        assert len(a) > 0

    def test_metrics_identical_across_paths(self, spark, docs, monkeypatch):
        _, m1 = dedup.minhash_lsh_pairs(
            docs, jaccard_threshold=0.5, max_bucket=3, return_metrics=True
        )
        r1 = m1.collect()[0]
        monkeypatch.setattr(dedup, "_PAIR_GEN_MAX", 1)
        _, m2 = dedup.minhash_lsh_pairs(
            docs, jaccard_threshold=0.5, max_bucket=3, return_metrics=True
        )
        r2 = m2.collect()[0]
        assert (r1.n_buckets, r1.dropped_buckets, r1.dropped_members) == (
            r2.n_buckets,
            r2.dropped_buckets,
            r2.dropped_members,
        )


class TestMinhashKernelParity:
    """r7 vectorized signature fold: the Arrow kernel must be
    bit-identical to the JVM aggregate it replaces."""

    def test_kernel_equals_jvm_fold(self, spark, docs):
        sh = dedup.minhash_shingle_frame(docs, "text", "doc_id", 3, "tokenmix")
        fast = dedup.minhash_signatures_from_shingles(sh, 32, "tokenmix")
        slow = jvm_minhash_fold(sh, 32, "tokenmix")
        key = F.col("minhash").cast("string").alias("m")
        assert fast.select("id", key).exceptAll(slow.select("id", key)).count() == 0
        assert slow.select("id", key).exceptAll(fast.select("id", key)).count() == 0

    def test_kernel_null_and_empty_rows(self, spark):
        src = spark.createDataFrame(
            [(1, [5, 7, 9]), (2, None), (3, [])],
            "id long, sh array<long>",
        )
        fast = {
            r.id: r.minhash
            for r in dedup.minhash_signatures_from_shingles(
                src, 8, "tokenmix"
            ).collect()
        }
        slow = {
            r.id: r.minhash
            for r in jvm_minhash_fold(src, 8, "tokenmix").collect()
        }
        assert fast == slow
        assert fast[2] is None and fast[3] == [1 << 33] * 8
