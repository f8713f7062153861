"""Scale evidence for the round-5 curation operators at 1M docs:
repetition_signals, paragraph_dedup, contamination_overlap.

Reuses bench.synthetic_docs (the funnel corpus, ~40 tokens/doc, 5%
planted junk) and plants the structure each operator needs:
- paragraph corpus: every doc gains a shared boilerplate paragraph on
  doc_id % 2 == 0 (500k-doc duplicate paragraph — the adversarial
  common-set case) plus its body paragraph.
- blocklist: 1,000 docs verbatim (same recipe as the decontamination
  bench) -> contamination_overlap must grade exactly those 1,000 docs
  at overlap 1.0 (plus their near-dup +1 variants partially).

Each leg forces full compute via an aggregate over every output column
family and reports wall + a checksum-ish count so a wrong plan can't
"win". Usage: python BENCH/curation_scale.py [n_docs=1000000]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import synthetic_docs
from streetview_naturevisibility_spark.operators.textops import (
    contamination_overlap,
    paragraph_dedup,
    repetition_signals,
)
from streetview_naturevisibility_spark.session import get_spark


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = synthetic_docs(spark, n, cpus * 2)
    results = {}

    # plant ONE 100k-line adversarial document (50k distinct lines +
    # 50k instances of a shared line — the log-file/listing shape real
    # web dumps contain). The old per-distinct-line scan was
    # O(distinct x total) ~ 5e9 comparisons inside this single row;
    # the sorted-run scan keeps it O(L log L). Its exact
    # dup_line_char_frac is asserted so a wrong rewrite fails here.
    adv_lines = F.transform(
        F.sequence(F.lit(0), F.lit(99_999)),
        lambda i: F.when(
            i % 2 == 0, F.concat(F.lit("u"), F.lpad(i.cast("string"), 7, "0"))
        ).otherwise(F.lit("dup-line!")),
    )
    adv = spark.range(1).select(
        F.lit(-1).cast("long").alias("doc_id"),
        F.array_join(adv_lines, "\n").alias("text"),
        F.lit("en").alias("lang"),
    )
    rdocs = docs.select("doc_id", "text", "lang").unionByName(adv)

    t0 = time.perf_counter()
    rep = repetition_signals(rdocs)
    r = rep.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("top2gram_char_frac") > 0).cast("long")).alias("n_rep2"),
        F.sum("dup_line_frac").alias("s_dl"),
    ).collect()[0]
    wall_rep = time.perf_counter() - t0
    adv_row = rep.where(F.col("doc_id") == -1).collect()[0]
    expect_adv = (49_999 * 9) / (50_000 * 8 + 50_000 * 9)
    assert adv_row.n_lines == 100_000 and abs(
        adv_row.dup_line_char_frac - expect_adv
    ) < 1e-12, adv_row
    results["repetition_signals"] = {
        "wall_s": round(wall_rep, 2),
        "rows": r.n,
        "docs_with_repeated_2gram": int(r.n_rep2),
        "adversarial_100k_line_doc": "exact",
    }

    boiler = "please subscribe to our newsletter for daily updates and offers"
    pdocs = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit("\n\n" + boiler)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    t0 = time.perf_counter()
    pdd = paragraph_dedup(pdocs)
    r = pdd.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_removed").alias("removed"),
        F.sum(F.length("text_deduped")).alias("chars"),
    ).collect()[0]
    results["paragraph_dedup"] = {
        "wall_s": round(time.perf_counter() - t0, 2),
        "rows": r.n,
        "paras_removed": int(r.removed),
        "expected_removed": (n + 1) // 2,
    }

    # chunk dedup: the corpus's planted near-dup pairs (doc_id % 100 ==
    # 1 repeats the predecessor's token stream + " extra") share every
    # PREFIX-ALIGNED 32-char chunk — those instances are the planted
    # duplicates (count is deterministic; appended-suffix duplicates
    # would NOT align, which is exactly the documented boundary of the
    # non-overlapping approximation)
    from streetview_naturevisibility_spark.operators.textops import chunk_dedup

    t0 = time.perf_counter()
    cd = chunk_dedup(docs, chunk_chars=32)
    r = cd.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_removed").alias("removed"),
        F.sum(F.length("text_deduped")).alias("chars"),
    ).collect()[0]
    results["chunk_dedup"] = {
        "wall_s": round(time.perf_counter() - t0, 2),
        "rows": r.n,
        "chunks_removed": int(r.removed),
    }

    blk = docs.where(F.col("doc_id") % 1000 == 7).select("text")  # 1,000 docs
    t0 = time.perf_counter()
    ov = contamination_overlap(docs, blk)
    r = ov.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("overlap_frac") >= 1.0).cast("long")).alias("full"),
        F.sum((F.col("n_hit") > 0).cast("long")).alias("any"),
    ).collect()[0]
    results["contamination_overlap"] = {
        "wall_s": round(time.perf_counter() - t0, 2),
        "rows": r.n,
        "fully_contaminated": int(r.full),
        "any_hit": int(r.any),
    }

    # token-budget select (broadcast per-bucket verdicts + fine-grained
    # window). Measured over MATERIALIZED parquet with a precomputed
    # n_tokens column — the realistic shape (the curate funnel passes
    # tokens_col): the first pass prunes to 3 narrow columns, which an
    # on-the-fly generated corpus can't express (see
    # BENCH/BASELINE.md). Pseudo-quality is hash-derived so every
    # bucket is populated; budgets sized so ~half of each of the 5
    # langs survives — the boundary lands mid-distribution.
    import tempfile

    from streetview_naturevisibility_spark.operators.corpus import (
        token_budget_select,
    )

    stage = tempfile.mkdtemp() + "/budget_docs"
    docs.withColumn(
        "quality_score",
        (F.pmod(F.xxhash64("doc_id"), F.lit(100_000)) / F.lit(100_000.0)),
    ).withColumn(
        "n_tokens", F.size(F.split("text", " ")).cast("long")
    ).write.mode("overwrite").parquet(stage)
    qdocs = spark.read.parquet(stage)
    budget = {"en": n * 4, "de": n * 4, "fr": n * 4, "es": n * 4, "zh": n * 4}
    t0 = time.perf_counter()
    kept = token_budget_select(qdocs, budget, tokens_col="n_tokens")
    r = kept.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tokens").alias("tok"),
    ).collect()[0]
    results["token_budget_bucketed"] = {
        "wall_s": round(time.perf_counter() - t0, 2),
        "docs_kept": r.n,
        "tokens_kept": int(r.tok),
    }

    # --- round-6 additions: C4 cleaning, BPE counting, Bloom anti-join

    # C4 at 1M docs: synthetic docs have no terminal punctuation, so
    # plant it — every 3rd line of every doc gains a period, docs with
    # doc_id % 20 == 3 gain 'lorem ipsum' (50k planted page kills).
    c4_docs = docs.select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.col("text"), " spark ", ". spark "),
            F.lit(". End sentence one. Two more here. Three now. "
                  "Four follow. Five close."),
            F.when(F.col("doc_id") % 20 == 3, F.lit(" lorem ipsum")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    from streetview_naturevisibility_spark.operators.textops import c4_clean

    t0 = time.perf_counter()
    cc = c4_clean(c4_docs)
    r = cc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        F.sum("n_lines_kept").alias("lines"),
    ).collect()[0]
    results["c4_clean"] = {
        "wall_s": round(time.perf_counter() - t0, 2),
        "rows": r.n,
        "kept": int(r.kept),
        "planted_lorem_kills": n - int(r.kept) >= n // 20,
    }
    assert int(r.kept) <= n - n // 20, "planted lorem-ipsum docs survived c4"

    # C4 span dedup at 1M docs: every even doc opens with the SAME
    # aligned 3-sentence span (500k instances -> all but the global
    # first removed); odd docs carry unique spans.
    from streetview_naturevisibility_spark.operators.textops import (
        span_dedup_c4,
    )

    shared = "Shared one here. Shared two here. Shared three here."
    span_docs = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit(shared + " Unique tail "), F.col("doc_id"), F.lit(".")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("Own one "), F.col("doc_id"),
                F.lit(". Own two here. Own three here. Tail."),
            )
        )
        .alias("text"),
    )
    t0 = time.perf_counter()
    r = span_dedup_c4(span_docs).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_removed").alias("removed"),
    ).collect()[0]
    results["span_dedup_c4"] = {
        "wall_s": round(time.perf_counter() - t0, 2),
        "rows": r.rows,
        "spans_removed": int(r.removed),
    }
    assert int(r.removed) == n // 2 - 1, int(r.removed)

    # BPE: train once on a 10k-doc sample (driver-side, bounded), then
    # count subwords over the full 1M — the map-only hot path.
    from streetview_naturevisibility_spark.operators.tokenize import (
        bpe_token_count,
        train_bpe_from_corpus,
    )

    t0 = time.perf_counter()
    merges = train_bpe_from_corpus(docs, n_merges=200, sample_docs=10_000)
    train_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    r = (
        bpe_token_count(docs, merges)
        .agg(F.sum("n_tokens_bpe").alias("t"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    results["bpe_count_1m"] = {
        "train_wall_s": round(train_s, 2),
        "count_wall_s": round(time.perf_counter() - t0, 2),
        "n_merges": len(merges),
        "rows": r.n,
        "subwords": int(r.t),
    }

    # Bloom anti-join in its DESIGN regime: done set 8x the batch and
    # far beyond broadcast size (8M md5 strings ~ 350 MB), small
    # per-batch overlap (5% — the incremental-funnel steady state).
    # Plain left-anti must shuffle done+batch (SMJ); the Bloom path
    # probes the batch map-only and resolves the positive slice with
    # the semi-then-anti decomposition (done SCANNED, never
    # SHUFFLED). Build is once-per-corpus, amortized across batches —
    # reported separately. Survivor counts asserted equal both paths.
    from streetview_naturevisibility_spark.operators.bloom import (
        bloom_anti_join,
        build_bloom,
    )

    n_done = 8 * n
    done = spark.range(0, n_done, 1, cpus * 2).select(
        F.md5(F.concat(F.lit("done"), F.col("id"))).alias("d")
    )
    batch = spark.range(0, n, 1, cpus * 2).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 20 == 0,
            F.md5(F.concat(F.lit("done"), F.col("id"))),
        )
        .otherwise(F.md5(F.concat(F.lit("new"), F.col("id"))))
        .alias("d"),
    )
    t0 = time.perf_counter()
    bloom = build_bloom(done, "d", capacity=n_done, fpp=0.01)
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    nb = bloom_anti_join(batch, done, "d", bloom).count()
    bloom_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    np_ = batch.join(done, "d", "left_anti").count()
    plain_s = time.perf_counter() - t0
    assert nb == np_ == n - n // 20, (nb, np_)
    results["bloom_anti_join_1m_vs_8m"] = {
        "build_once_wall_s": round(build_s, 2),
        "bloom_join_wall_s": round(bloom_s, 2),
        "plain_join_wall_s": round(plain_s, 2),
        "survivors": nb,
    }

    print(json.dumps({"n_docs": n, "cpus": cpus, "legs": results}))


if __name__ == "__main__":
    main()
