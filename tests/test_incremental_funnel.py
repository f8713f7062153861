"""End-to-end INCREMENTAL curation: ingest batch -> fix_text ->
decontaminate -> exact-dedup anti-join vs the done corpus ->
semantic_dedup_incremental vs the stored IVF index -> append — and the
equivalence gate: a full batch RERUN over (corpus UNION batch) produces
row-for-row the same final corpus.

Equivalence precondition (documented, by construction here): the
incremental keep rule is "existing corpus member ALWAYS wins", while a
global rerun resolves near-dup pairs by the closest-to-centroid rule —
the two coincide when every cross-(corpus, batch) near-dup pair ties on
centroid cosine (exact vector duplicates do, bit-for-bit) so the
lower-id corpus member wins both ways, and when corpus ids sort below
batch ids so exact-text dedup's min-id keeper is the corpus copy. Real
ingestion pipelines share both properties (monotone ids; re-crawled
pages are byte-identical); a batch item strictly CLOSER to the centroid
than its corpus near-dup is where the two semantics genuinely differ,
by design.
"""

from __future__ import annotations

import contextlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from streetview_naturevisibility_spark.operators.dedup import exact_dedup
from streetview_naturevisibility_spark.operators.similarity import (
    build_ivf_index,
    semantic_dedup,
    semantic_dedup_incremental,
)
from streetview_naturevisibility_spark.operators.textops import (
    decontaminate,
    fix_text,
)

DIM = 8
THR = 0.95


def _unit(*pairs):
    v = np.zeros(DIM)
    for i, w in pairs:
        v[i] = w
    return [float(x) for x in (v / np.sqrt((v**2).sum()))]


# --- the done corpus A: ids 0..9, clean ASCII text, separated vectors
_A_TEXTS = {
    0: "alpha data table scan row value batch merge",
    1: "bravo window order column agg join small line",
    2: "charlie stream filter sort hash group vector key",
    3: "shared body text about data systems",
    4: "delta customer query part big spark slow fast",
    5: "echo corpus line content body anchor point five",
    6: "foxtrot metrics lineage checkpoint resume stage",
    7: "golf parquet footer pruning partition morton",
    8: "hotel broadcast shuffle skew salt aggregate",
    9: "india watermark session event late arrival",
}
_A_VECS = {
    0: _unit((0, 1.0)),
    1: _unit((1, 1.0)),
    2: _unit((2, 1.0)),
    3: _unit((3, 1.0)),
    4: _unit((4, 1.0)),
    5: _unit((5, 1.0)),
    6: _unit((6, 1.0)),
    7: _unit((7, 1.0)),
    8: _unit((0, 1.0), (1, 1.0)),
    9: _unit((2, 1.0), (3, 1.0)),
}

_BLOCK_13GRAM = "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10 zz11 zz12 zz13"

# --- ingest batch B: ids 100..109
_B_TEXTS = {
    100: "juliet novel clean document one hundred tokens here",
    # control char lodged in a text that REPAIRS to A3's exact bytes
    101: "shared\x01 body text about data systems",
    # verbatim benchmark 13-gram -> decontamination kill
    102: "kilo prefix " + _BLOCK_13GRAM + " suffix kilo",
    103: "lima novel text whose vector duplicates corpus five",
    104: "mike novel text batch internal pair first",
    105: "november novel text batch internal pair second",
    # mojibake that repairs to a NOVEL text
    106: "oscar novel mojibake cafÃ© document fresh",
    # raw text equal to 106's FIXED text -> within-batch exact dup
    107: "oscar novel mojibake café document fresh",
    108: "papa fresh content never seen before anywhere",
    109: "quebec final novel document of the batch",
}
_B_VECS = {
    100: _unit((4, 1.0), (5, 1.0)),
    101: _unit((6, 1.0), (7, 1.0)),       # text dies first; vector moot
    102: _unit((0, 1.0), (2, 1.0)),       # text dies first; vector moot
    103: _A_VECS[5],                       # exact clone of corpus vec 5
    104: _unit((1, 1.0), (3, 1.0)),
    105: _unit((1, 1.0), (3, 1.0)),       # exact clone of 104
    106: _unit((5, 1.0), (6, 1.0)),
    107: _unit((5, 1.0), (6, 1.0)),       # text dies first; vector moot
    108: _unit((0, 1.0), (7, 1.0)),
    109: _unit((3, 1.0), (4, 1.0)),
}

EXPECT_B_KEPT = {100, 104, 106, 108, 109}
EXPECT_KILLS = {101, 102, 103, 105, 107}


def _docs_df(spark, texts):
    return spark.createDataFrame(
        sorted(texts.items()), "doc_id: long, text: string"
    )


def _emb_df(spark, vecs):
    pdf = pd.DataFrame(
        {"vec_id": sorted(vecs), "embedding": [vecs[k] for k in sorted(vecs)]}
    )
    return spark.createDataFrame(pdf)


def _run_text_stages(docs, blocklist, done_digests=None):
    """fix_text -> decontaminate -> exact dedup (vs done set AND
    within the frame, min-id keeper). Returns (doc_id, text)."""
    fixed = fix_text(docs).select(
        "doc_id", F.col("text_fixed").alias("text")
    )
    clean = decontaminate(fixed, blocklist)
    if done_digests is not None:
        clean = clean.join(
            done_digests,
            F.md5(F.col("text")) == F.col("digest"),
            "left_anti",
        )
    keepers = exact_dedup(clean).select(F.col("keeper").alias("doc_id"))
    return clean.join(keepers, "doc_id", "left_semi")


@pytest.fixture(scope="module")
def ivf_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("inc") / "ivf_a")
    cents = build_ivf_index(_emb_df(spark, _A_VECS), path, n_lists=2)
    return path, cents


def test_incremental_funnel_equals_batch_rerun(spark, ivf_index):
    index_path, cents = ivf_index
    blocklist = spark.createDataFrame(
        [(_BLOCK_13GRAM,)], "text: string"
    )
    docs_a = _docs_df(spark, _A_TEXTS)
    docs_b = _docs_df(spark, _B_TEXTS)

    # ---- incremental path: batch-only work against the done state
    done_digests = docs_a.select(F.md5("text").alias("digest"))
    b_text_ok = _run_text_stages(docs_b, blocklist, done_digests)
    surviving_ids = b_text_ok.select(F.col("doc_id").alias("vec_id"))
    b_emb = _emb_df(spark, _B_VECS).join(surviving_ids, "vec_id", "left_semi")
    inc = semantic_dedup_incremental(b_emb, index_path, threshold=THR)
    b_kept_ids = {
        r.vec_id for r in inc.where(F.col("kept")).select("vec_id").collect()
    }
    assert b_kept_ids == EXPECT_B_KEPT
    appended = b_text_ok.where(F.col("doc_id").isin(sorted(b_kept_ids)))
    final_inc = docs_a.unionByName(appended)

    # ---- batch rerun over (A UNION B) with the SAME centroids
    all_docs = docs_a.unionByName(docs_b)
    all_text_ok = _run_text_stages(all_docs, blocklist)
    all_emb = _emb_df(spark, {**_A_VECS, **_B_VECS}).join(
        all_text_ok.select(F.col("doc_id").alias("vec_id")),
        "vec_id",
        "left_semi",
    )
    sd = semantic_dedup(
        all_emb,
        threshold=THR,
        n_lists=len(cents),
        dim=DIM,
        centroids=np.asarray(cents, dtype=np.float64),
        assign="udf",
    )
    final_batch = all_text_ok.join(
        sd.where(F.col("kept")).select(F.col("vec_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )

    # ---- row-for-row equivalence
    got_inc = sorted(
        (r.doc_id, r.text) for r in final_inc.collect()
    )
    got_batch = sorted(
        (r.doc_id, r.text) for r in final_batch.collect()
    )
    assert got_inc == got_batch
    assert {i for i, _ in got_inc} == set(_A_TEXTS) | EXPECT_B_KEPT
    # the repaired novel doc landed with its FIXED bytes
    by_id = dict(got_inc)
    assert by_id[106] == _B_TEXTS[107]


def test_incremental_funnel_kills_attributed(spark, ivf_index):
    """Each planted kill dies at the stage built for it (not merely
    somewhere): contaminated at decontaminate, corpus text dup at the
    anti-join, batch text dup at within-batch exact dedup, semantic
    dups at the incremental index pass."""
    index_path, _ = ivf_index
    blocklist = spark.createDataFrame([(_BLOCK_13GRAM,)], "text: string")
    docs_a = _docs_df(spark, _A_TEXTS)
    docs_b = _docs_df(spark, _B_TEXTS)

    fixed = fix_text(docs_b).select("doc_id", F.col("text_fixed").alias("text"))
    after_decon = decontaminate(fixed, blocklist)
    assert {r.doc_id for r in after_decon.collect()} == set(_B_TEXTS) - {102}

    done_digests = docs_a.select(F.md5("text").alias("digest"))
    after_anti = after_decon.join(
        done_digests, F.md5(F.col("text")) == F.col("digest"), "left_anti"
    )
    assert {r.doc_id for r in after_anti.collect()} == set(_B_TEXTS) - {101, 102}

    keepers = exact_dedup(after_anti).select(F.col("keeper").alias("doc_id"))
    after_exact = after_anti.join(keepers, "doc_id", "left_semi")
    assert {r.doc_id for r in after_exact.collect()} == set(_B_TEXTS) - {
        101, 102, 107,
    }

    b_emb = _emb_df(spark, _B_VECS).join(
        after_exact.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    inc = semantic_dedup_incremental(b_emb, index_path, threshold=THR)
    killed = {r.vec_id for r in inc.where(~F.col("kept")).collect()}
    assert killed == {103, 105}


def test_done_set_anti_join_bloom_equivalent(spark, no_broadcast):
    """The exact-dedup-vs-done-set step of the incremental funnel,
    routed through the Bloom pre-probe (operators/bloom.py): identical
    survivor set to the plain left-anti — no false negatives, the
    false-positive slice is resolved by the residual join. At 100 TB
    this is the step where the filter replaces re-shuffling the
    ever-growing done digest set every batch."""
    from streetview_naturevisibility_spark.operators.bloom import (
        bloom_anti_join,
        build_bloom,
    )

    # digests are taken AFTER fix_text, as the funnel does — the
    # planted cross-corpus dup is a mojibake-corrupted copy that only
    # matches its corpus original once repaired
    docs_a = fix_text(_docs_df(spark, _A_TEXTS)).select(
        "doc_id", F.col("text_fixed").alias("text")
    )
    docs_b = fix_text(_docs_df(spark, _B_TEXTS)).select(
        "doc_id", F.col("text_fixed").alias("text")
    )
    done = docs_a.select(F.md5("text").alias("digest"))
    batch = docs_b.select("doc_id", F.md5("text").alias("digest"))

    bloom = build_bloom(done, "digest", capacity=64, fpp=0.01)
    want = sorted(
        r.doc_id
        for r in batch.join(done, "digest", "left_anti").collect()
    )
    # both residual paths: broadcast candidates (default budget) and
    # the plain left-anti join (nothing fits)
    for path in (contextlib.nullcontext, no_broadcast):
        with path():
            got = sorted(
                r.doc_id
                for r in bloom_anti_join(batch, done, "digest", bloom).collect()
            )
        assert got == want, path
    # the funnel's planted cross-corpus exact dup is actually removed
    assert len(want) < docs_b.count()
