"""Corpus-ops throughput evidence: the training-data operator family
(exact dedup, MinHash-LSH near-dup + clustering, text analysis,
fingerprint, stratified sample) over N synthetic documents generated
DISTRIBUTED (hash-derived text, never collected), fast paths only
(xxhash64 / NumPy) — the production configuration, not the md5
oracle-portable twins the contract gate times.

Planted duplicate structure: every 100th doc is a near-copy of its
predecessor (one token appended), so the LSH stage has real work and a
known expected pair floor.

Usage: python BENCH/corpus_scale.py [n_docs] [cpus]
Appends one JSON line to stdout; record notable runs in
BENCH/BASELINE.md. Do not run other Spark work concurrently.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import synthetic_docs  # canonical generator lives in bench.py
from streetview_naturevisibility_spark.session import get_spark


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark(
        app_name="svnv-corpus-scale", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    import tempfile

    # stage the corpus as parquet and time the operators over a real
    # table scan (the 100 TB-realistic input), not over the generator
    stage = os.path.join(tempfile.mkdtemp(prefix="corpus_scale_"), "docs")
    synthetic_docs(spark, n, 4 * cpus).write.mode("overwrite").parquet(stage)
    docs = spark.read.parquet(stage)
    docs.count()  # reader warm-up

    from streetview_naturevisibility_spark.operators.corpus import (
        duplicate_clusters,
        stratified_sample,
    )
    from streetview_naturevisibility_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
    )
    from streetview_naturevisibility_spark.operators.textops import analyze_documents

    out: dict[str, float] = {}

    t0 = time.time()
    n_groups = exact_dedup(docs).count()
    out["exact_dedup_s"] = round(time.time() - t0, 2)

    t0 = time.time()
    analyze_documents(docs).write.format("noop").mode("overwrite").save()
    out["analyze_s"] = round(time.time() - t0, 2)

    t0 = time.time()
    pairs = minhash_lsh_pairs(
        docs, jaccard_threshold=0.5, max_bucket=100_000
    )
    n_pairs = pairs.count()
    out["minhash_lsh_s"] = round(time.time() - t0, 2)

    t0 = time.time()
    n_clustered = duplicate_clusters(
        minhash_lsh_pairs(docs, jaccard_threshold=0.5, max_bucket=100_000)
    ).count()
    out["dup_clusters_s"] = round(time.time() - t0, 2)

    t0 = time.time()
    n_sampled = stratified_sample(
        docs, "lang", {"en": 0.1, "de": 0.5, "fr": 0.9, "es": 0.3, "zh": 0.05},
        "doc_id",
    ).count()
    out["stratified_sample_s"] = round(time.time() - t0, 2)

    # benchmark decontamination at corpus scale: 1,000-doc blocklist
    # (benchmark-suite-sized), explode + LEFT SEMI join path (see
    # textops.contaminated_ids). Planting is inherent: the blocklist reuses the
    # same generator, so its 1,000 docs are verbatim copies of corpus
    # doc_ids 0..999 — those (plus their planted near-dups) MUST be
    # flagged, giving a known hit floor of ~1,000.
    from streetview_naturevisibility_spark.operators.textops import contaminated_ids

    blk = synthetic_docs(spark, 1000, 8).selectExpr("doc_id AS bid", "text")
    t0 = time.time()
    n_contam = contaminated_ids(docs, blk).count()
    out["decontam_join_s"] = round(time.time() - t0, 2)

    # adversarial chain-shaped CC: star vs propagation on the SAME
    # pair set. LSH dup components are near-cliques (diameter ~1-2,
    # propagation's home turf); chains are the worst case — diameter =
    # chain length, so propagation pays one shuffle round per hop while
    # large/small-star converges in O(log^2 n) rounds. Chain length 40
    # keeps propagation inside a sane round budget for the head-to-head;
    # the second star row uses 10k-long chains, a shape where
    # propagation would need 10,000 shuffle rounds and is not run.
    from streetview_naturevisibility_spark.operators.corpus import (
        duplicate_clusters as _cc,
    )

    def chain_pairs(n_nodes: int, length: int):
        e = spark.range(0, n_nodes, 1, cpus).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        return e.where((F.col("id_b") % length) != 0)

    cc_counts: dict[str, int] = {}
    chain40 = chain_pairs(n, 40)
    t0 = time.time()
    cc_counts["chain40_star_docs"] = _cc(chain40, algorithm="star").count()
    out["cc_chain40_star_s"] = round(time.time() - t0, 2)
    t0 = time.time()
    cc_counts["chain40_prop_docs"] = _cc(
        chain40, algorithm="propagation", max_iters=64
    ).count()
    out["cc_chain40_propagation_s"] = round(time.time() - t0, 2)
    chain10k = chain_pairs(n, 10_000)
    t0 = time.time()
    cc_counts["chain10k_star_docs"] = _cc(chain10k, algorithm="star").count()
    out["cc_chain10k_star_s"] = round(time.time() - t0, 2)

    planted = n // 100
    print(
        json.dumps(
            {
                "metric": "corpus_ops_wall_sec",
                "n_docs": n,
                "cpus": cpus,
                "times": out,
                "docs_per_sec": {
                    k.removesuffix("_s"): round(n / v) for k, v in out.items()
                },
                "n_dedup_groups": n_groups,
                "n_near_dup_pairs": n_pairs,
                "n_clustered_docs": n_clustered,
                "n_sampled": n_sampled,
                "planted_near_dups": planted,
                "cc_chain_counts": cc_counts,
                "n_contaminated": n_contam,
            }
        )
    )


if __name__ == "__main__":
    main()
