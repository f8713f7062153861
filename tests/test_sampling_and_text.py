"""Engine sampling + text kernels vs reference-semantics oracles."""

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from streetview_naturevisibility_spark.fixtures.generate import (
    gen_roads,
    gen_web_pages,
)
from streetview_naturevisibility_spark.functions.text import (
    extract_text_kernel,
    parse_coords_kernel,
    token_labels_kernel,
)
from streetview_naturevisibility_spark.operators.sampling import sample_points
from streetview_naturevisibility_spark.operators.tiling import prepare_pages
from tests.oracle import oracle_sample_points


class TestExtractText:
    def test_byte_identical_per_url(self):
        """The per-row invariant gate (BASELINE.json input_hint)."""
        pages = gen_web_pages(200)
        extracted = extract_text_kernel(pages["html"])
        assert (extracted == pages["text"]).all()
        # byte-level check
        for t, e in zip(pages["text"], extracted):
            assert t.encode("utf-8") == e.encode("utf-8")

    def test_missing_p_block_yields_empty_string(self):
        s = pd.Series([b"<html><body>no p</body></html>", None])
        out = extract_text_kernel(s)
        assert out.tolist() == ["", ""]

    def test_parse_coords_roundtrip(self):
        pages = gen_web_pages(100)
        coords = parse_coords_kernel(pages["html"])
        assert np.abs(coords["lon"].to_numpy() - pages["lon"].to_numpy()).max() < 1e-6
        assert np.abs(coords["lat"].to_numpy() - pages["lat"].to_numpy()).max() < 1e-6

    def test_spark_udf_matches_kernel(self, spark, fixture_dir):
        """The fused page-parser UDF that prepare_pages runs extracts
        the pinned text for every row."""
        df = spark.read.parquet(os.path.join(fixture_dir, "web_pages.parquet"))
        parsed = prepare_pages(df.select("url", "html")).withColumnRenamed(
            "text", "extracted"
        )
        got = (
            df.select("url", "text")
            .join(parsed.select("url", "extracted"), "url")
            .withColumn("ok", F.col("text") == F.col("extracted"))
            .agg(F.sum(F.col("ok").cast("int")).alias("n_ok"), F.count("*").alias("n"))
            .collect()[0]
        )
        assert got.n_ok == got.n


class TestTokenLabels:
    def test_deterministic_and_in_range(self):
        s = pd.Series(["bala cedo bala", ""])
        l1 = token_labels_kernel(s)
        l2 = token_labels_kernel(s)
        assert l1.tolist() == l2.tolist()
        assert l1[1] == []
        assert all(0 <= v < 19 for v in l1[0])
        # same token -> same label
        assert l1[0][0] == l1[0][2]


class TestSamplePoints:
    def test_matches_reference_oracle(self, spark, fixture_dir):
        roads_pd = gen_roads(60)
        expected = oracle_sample_points(roads_pd, spacing=50)

        roads = spark.read.parquet(os.path.join(fixture_dir, "roads.parquet"))
        got = (
            sample_points(roads, spacing=50)
            .orderBy("point_id")
            .select("point_id", "road_id", "offset_m", "x", "y")
            .toPandas()
        )
        assert len(got) == len(expected)
        assert (got["point_id"].to_numpy() == expected["point_id"].to_numpy()).all()
        assert (got["road_id"].to_numpy() == expected["road_id"].to_numpy()).all()
        assert (got["offset_m"].to_numpy() == expected["offset_m"].to_numpy()).all()
        assert np.abs(got["x"].to_numpy() - expected["x"].to_numpy()).max() < 1e-9
        assert np.abs(got["y"].to_numpy() - expected["y"].to_numpy()).max() < 1e-9

    def test_endpoint_exclusive_and_short_road(self, spark):
        roads = spark.createDataFrame(
            pd.DataFrame(
                {
                    "road_id": ["a", "b"],
                    "geometry_wkt": [
                        "LINESTRING (0 0, 100 0)",  # length 100 -> offsets 0,50
                        "LINESTRING (0 0, 0.5 0)",  # length 0.5 -> none
                    ],
                    "length": [100.0, 0.5],
                    "highway": ["residential", "residential"],
                }
            )
        )
        got = sample_points(roads, spacing=50).select("road_id", "offset_m").collect()
        assert sorted((r.road_id, r.offset_m) for r in got) == [("a", 0), ("a", 50)]

    def test_determinism_under_repartition(self, spark, fixture_dir):
        roads = spark.read.parquet(os.path.join(fixture_dir, "roads.parquet"))
        a = sample_points(roads, spacing=50).orderBy("point_id").toPandas()
        b = sample_points(roads.repartition(7), spacing=50).orderBy("point_id").toPandas()
        pd.testing.assert_frame_equal(a, b)


class TestDecontamination:
    """Benchmark-overlap decontamination: planted 13-gram contamination
    must be found exactly by the explode+semi-join path, and clean
    docs must survive."""

    def _corpus(self, spark):
        bench_gram = " ".join(f"b{i}" for i in range(13))
        docs = spark.createDataFrame(
            [
                (1, "clean doc " + " ".join(f"w{i}" for i in range(30))),
                (2, "prefix words " + bench_gram + " suffix words here"),
                (3, " ".join(f"x{i}" for i in range(20))),
                (4, bench_gram),  # exactly the benchmark text
                (5, "short doc"),  # shorter than n -> single truncated shingle
            ],
            "doc_id: long, text: string",
        )
        blocklist = spark.createDataFrame(
            [(100, "intro " + bench_gram + " outro")],
            "bid: long, text: string",
        )
        return docs, blocklist

    def test_broadcast_and_join_methods_agree(self, spark):
        from streetview_naturevisibility_spark.operators.textops import (
            contaminated_ids,
        )

        docs, blk = self._corpus(spark)
        b = sorted(
            (r.doc_id, r.n_hits)
            for r in contaminated_ids(docs, blk, block_text_col="text").collect()
        )
        assert [i for i, _ in b] == [2, 4]

    def test_decontaminate_drops_only_hits(self, spark):
        from streetview_naturevisibility_spark.operators.textops import decontaminate

        docs, blk = self._corpus(spark)
        kept = sorted(r.doc_id for r in decontaminate(docs, blk).collect())
        assert kept == [1, 3, 5]

    def test_no_false_positives_on_disjoint_corpora(self, spark):
        from streetview_naturevisibility_spark.operators.textops import (
            contaminated_ids,
        )

        docs = spark.createDataFrame(
            [(i, " ".join(f"d{i}t{j}" for j in range(20))) for i in range(10)],
            "doc_id: long, text: string",
        )
        blk = spark.createDataFrame(
            [(0, " ".join(f"z{j}" for j in range(20)))], "bid: long, text: string"
        )
        assert contaminated_ids(docs, blk).count() == 0

    def test_duckdb_sql_twin_agrees(self, spark):
        """SQL-twin oracle (tests/oracle.duckdb_decontaminate): the
        engine's hash-based decontamination must keep exactly the doc
        set a string-shingle ANSI-SQL re-statement keeps — over the
        planted corpus AND a wider deterministic one (varying doc
        lengths incl. shorter-than-n and null text). Stands in for a
        driver contract row (50-row cap)."""
        import pandas as pd

        from streetview_naturevisibility_spark.operators.textops import decontaminate
        from tests.oracle import duckdb_decontaminate

        docs, blk = self._corpus(spark)
        got = sorted(r.doc_id for r in decontaminate(docs, blk).collect())
        want = duckdb_decontaminate(
            docs.toPandas(), blk.toPandas().rename(columns={"bid": "doc_id"})
        )
        assert got == sorted(want["doc_id"].tolist())

        # wider corpus: 120 docs, tokens from a small alphabet so real
        # overlaps occur; blocklist = 5 of the docs verbatim
        rows = []
        for i in range(120):
            if i % 17 == 0:
                rows.append((i, None))
            else:
                ln = 5 + (i * 7) % 25
                rows.append(
                    (i, " ".join(f"t{(i * 31 + j * 13) % 40}" for j in range(ln)))
                )
        wdocs = spark.createDataFrame(rows, "doc_id: long, text: string")
        wblk = spark.createDataFrame(
            [(j, rows[j * 20 + 3][1]) for j in range(5)], "bid: long, text: string"
        )
        got = sorted(
            r.doc_id
            for r in decontaminate(wdocs, wblk, n=8).collect()
        )
        want = duckdb_decontaminate(
            pd.DataFrame(rows, columns=["doc_id", "text"]),
            wblk.toPandas().rename(columns={"bid": "doc_id"}),
            n=8,
        )
        assert got == sorted(want["doc_id"].tolist())


class TestDecontamWindowSize:
    def test_smaller_n_is_strictly_more_aggressive(self, spark):
        """n=8 must flag every doc n=13 flags (any 13-gram overlap
        implies an 8-gram overlap) and can flag more."""
        from streetview_naturevisibility_spark.operators.textops import (
            contaminated_ids,
        )

        gram8 = " ".join(f"g{i}" for i in range(8))
        docs = spark.createDataFrame(
            [
                (1, "x " + " ".join(f"b{i}" for i in range(13)) + " y"),  # 13-hit
                (2, "p " + gram8 + " q r s t u"),  # only 8-gram overlap
                (3, " ".join(f"z{i}" for i in range(20))),  # clean
            ],
            "doc_id: long, text: string",
        )
        blk = spark.createDataFrame(
            [(0, " ".join(f"b{i}" for i in range(13)) + " " + gram8)],
            "bid: long, text: string",
        )
        hit13 = {r.doc_id for r in contaminated_ids(docs, blk, n=13).collect()}
        hit8 = {r.doc_id for r in contaminated_ids(docs, blk, n=8).collect()}
        assert hit13 == {1}
        assert hit8 >= {1, 2} and 3 not in hit8


class TestBigramLmScoring:
    def test_logprob_matches_pure_python_oracle(self, spark):
        """Smoothed bigram log-prob vs an independent dict-based
        oracle on a small corpus — exact to float tolerance."""
        import math
        from collections import Counter

        from streetview_naturevisibility_spark.operators.textops import (
            score_bigram_logprob,
            train_bigram_lm,
        )

        train = [
            "the cat sat on the mat",
            "the dog sat on the log",
            "a cat and a dog",
        ]
        corpus = spark.createDataFrame(
            [(i, t) for i, t in enumerate(train)], "doc_id: long, text: string"
        )
        uni, bi, v = train_bigram_lm(corpus)
        # oracle
        c1, c2 = Counter(), Counter()
        for t in train:
            ws = t.split(" ")
            c1.update(ws)
            c2.update(zip(ws, ws[1:]))
        v = int(v.collect()[0][0])  # lazy 1-row V frame
        assert v == len(c1)

        docs = [
            (10, "the cat sat"),          # in-domain
            (11, "zebra quantum flux"),   # fully out-of-domain
            (12, "the dog"),              # single bigram
        ]
        got = {
            r.doc_id: r
            for r in score_bigram_logprob(
                spark.createDataFrame(docs, "doc_id: long, text: string"),
                uni, bi, v,
            ).collect()
        }
        for did, text in docs:
            ws = text.split(" ")
            lps = [
                math.log((c2.get((a, b), 0) + 1.0) / (c1.get(a, 0) + 1.0 * v))
                for a, b in zip(ws, ws[1:])
            ]
            assert got[did].n_bigrams == len(lps)
            assert abs(got[did].mean_logprob - sum(lps) / len(lps)) < 1e-12
        # the in-domain doc must outscore the out-of-domain one
        assert got[10].mean_logprob > got[11].mean_logprob

    def test_plan_broadcasts_model_tables(self, spark):
        from streetview_naturevisibility_spark.operators.textops import (
            score_bigram_logprob,
            train_bigram_lm,
        )

        corpus = spark.createDataFrame(
            [(0, "a b c a b")], "doc_id: long, text: string"
        )
        uni, bi, v = train_bigram_lm(corpus)
        plan = (
            score_bigram_logprob(corpus, uni, bi, v)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_int_vocab_size_still_accepted(self, spark):
        """Precomputed-int V gives bit-identical scores to the lazy
        1-row-frame V."""
        from streetview_naturevisibility_spark.operators.textops import (
            score_bigram_logprob,
            train_bigram_lm,
        )

        corpus = spark.createDataFrame(
            [(0, "a b c a b"), (1, "b c d")], "doc_id: long, text: string"
        )
        uni, bi, v = train_bigram_lm(corpus)
        lazy = score_bigram_logprob(corpus, uni, bi, v).orderBy("doc_id").collect()
        eager = (
            score_bigram_logprob(corpus, uni, bi, int(v.collect()[0][0]))
            .orderBy("doc_id")
            .collect()
        )
        assert lazy == eager

    def test_train_and_score_fire_no_job_until_action(self, spark):
        """train_bigram_lm + score_bigram_logprob must be a single
        unexecuted plan: no Spark job may run at build time (the round-4
        version eagerly counted the vocabulary). Verified via job-group
        bookkeeping: the group is empty after building, non-empty only
        after an action."""
        from streetview_naturevisibility_spark.operators.textops import (
            score_bigram_logprob,
            train_bigram_lm,
        )

        sc = spark.sparkContext
        group = "lm-laziness-probe"
        sc.setJobGroup(group, "build-only")
        try:
            corpus = spark.createDataFrame(
                [(0, "a b c a b"), (1, "b c d e")], "doc_id: long, text: string"
            )
            uni, bi, v = train_bigram_lm(corpus)
            scored = score_bigram_logprob(corpus, uni, bi, v)
            assert sc.statusTracker().getJobIdsForGroup(group) == []
            assert scored.count() == 2
            assert sc.statusTracker().getJobIdsForGroup(group) != []
        finally:
            sc.setJobGroup("", "")
