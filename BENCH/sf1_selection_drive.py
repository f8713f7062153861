"""sf1 adversarial drive for the SELECTION family (round-6 verdict
item #6): 10x key-offset replica of sf0.1 (tools/make_sf_replica —
texts and embeddings repeat verbatim across copies, planting exact
10-cliques), then

  1. full Spark-vs-DuckDB contract compare at sf1 for the legs whose
     twins scale: dsir_score, token_budget, pack_assignments,
     chunk_dedup, clf_score, fix_text
  2. semantic_dedup via a CLOSED-FORM equivalence instead of the
     quadratic pair twin (3.4e8 pair cosines in DuckDB lambdas is
     intractable): exact replication means every +k*1e6 copy is an
     exact dup of its base sharing cluster and centroid-cosine
     bit-for-bit, so the sf1 kept set must equal the sf0.1 kept set
     (which the 50-query gate already twin-verified) and every copy>0
     row must be killed. Engine runs the pairs="local" BLAS path —
     the configuration 100 TB would use.

Usage: python BENCH/sf1_selection_drive.py [src=/root/testdata/sf0.1]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1 = "/tmp/sf1_r6"
CONTRACT_LEGS = [
    "dsir_score",
    "token_budget",
    "pack_assignments",
    "chunk_dedup",
    "clf_score",
    "fix_text",
]


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    results: dict = {"src": src, "sf1_dir": SF1}

    if not os.path.exists(os.path.join(SF1, "documents.parquet")):
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(root, "tools/make_sf_replica.py"),
             src, SF1, "10"],
            check=True,
        )
        results["replica_build_s"] = round(time.perf_counter() - t0, 1)

    # ---- leg 1: full twin compare at sf1
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools/check_contract.py"),
         SF1, *CONTRACT_LEGS],
        capture_output=True,
        text=True,
    )
    tail = [
        ln for ln in proc.stdout.splitlines()
        if ln.startswith(("[OK]", "[FAIL]", "ALL OK", "FAILED"))
    ]
    results["contract_at_sf1"] = {
        "legs": tail,
        "exit": proc.returncode,
        "wall_s": round(time.perf_counter() - t0, 1),
    }

    # ---- leg 2: semantic_dedup closed-form replication check
    from pyspark.sql import functions as F

    from streetview_naturevisibility_spark.operators.similarity import (
        semantic_dedup,
    )
    from streetview_naturevisibility_spark.session import get_spark
    from streetview_naturevisibility_spark.sources.tables import load

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # raw embeddings: the replica itself plants the exact 10-cliques
    # (the aug view's +1e6 clone ids would collide with copy ids)
    base = load(spark, src, "embeddings")
    kept_base = {
        r.vec_id
        for r in semantic_dedup(base, threshold=0.95)
        .where(F.col("kept"))
        .collect()
    }

    t0 = time.perf_counter()
    sf1_emb = load(spark, SF1, "embeddings")
    n_sf1 = sf1_emb.count()
    sd = semantic_dedup(
        sf1_emb, threshold=0.95, assign="udf", pairs="local"
    )
    kept_sf1 = {r.vec_id for r in sd.where(F.col("kept")).collect()}
    wall = time.perf_counter() - t0

    # closed form: identical vectors share cluster and centroid cosine
    # bit-for-bit, ties break to the lower id, so exactly the copy-0
    # instance of every 10-clique survives -> kept_sf1 == kept_base
    # and every copy>0 row died
    results["semantic_dedup_sf1"] = {
        "n_vectors": int(n_sf1),
        "kept": len(kept_sf1),
        "kept_equals_base_run": kept_sf1 == kept_base,
        "all_copies_killed": all(v < 1_000_000 for v in kept_sf1),
        "wall_s": round(wall, 1),
    }
    # ---- leg 3 (round-6 additions): C4 twin, BPE kernel parity, and
    # Bloom==plain anti-join, all at the 10x replica scale
    import pandas as pd

    from streetview_naturevisibility_spark.functions.bpe import encode_text
    from streetview_naturevisibility_spark.operators.bloom import (
        bloom_anti_join,
        build_bloom,
    )
    from streetview_naturevisibility_spark.operators.textops import c4_clean
    from streetview_naturevisibility_spark.operators.tokenize import (
        bpe_token_count,
        train_bpe_from_corpus,
    )
    from tests.oracle import duckdb_c4_clean

    docs = load(spark, SF1, "documents")
    # give the punctuation-free corpus real C4 structure: terminal
    # sentences everywhere, lorem-ipsum on doc_id % 20 == 3
    c4_in = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(". End one. Two more. Three now. Four here. Five close."),
            F.when(F.col("doc_id") % 20 == 3, F.lit(" lorem ipsum"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    t0 = time.perf_counter()
    got_c4 = (
        c4_clean(c4_in)
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    want_c4 = (
        duckdb_c4_clean(c4_in.orderBy("doc_id").toPandas())
        .reset_index(drop=True)
    )
    c4_equal = all(
        list(got_c4[c]) == list(want_c4[c])
        for c in ("text_clean", "n_lines", "n_lines_kept", "n_sentences", "keep")
    )
    results["c4_clean_sf1"] = {
        "rows": len(got_c4),
        "twin_value_exact": bool(c4_equal),
        "wall_s": round(time.perf_counter() - t0, 1),
    }

    t0 = time.perf_counter()
    merges = train_bpe_from_corpus(docs, n_merges=100, sample_docs=5000)
    ranks = {p: i for i, p in enumerate(merges)}
    spark_total = int(
        bpe_token_count(docs, merges)
        .agg(F.sum("n_tokens_bpe").alias("t"))
        .collect()[0]
        .t
    )
    cache: dict = {}
    kernel_total = sum(
        len(encode_text(t, ranks, cache))
        for (t,) in docs.select("text").toPandas().itertuples(index=False)
        if t is not None
    )
    results["bpe_count_sf1"] = {
        "n_merges": len(merges),
        "spark_subwords": spark_total,
        "kernel_subwords": kernel_total,
        "value_exact": spark_total == kernel_total,
        "wall_s": round(time.perf_counter() - t0, 1),
    }

    t0 = time.perf_counter()
    keyed = docs.select("doc_id", F.md5("text").alias("d"))
    done = keyed.where(F.col("doc_id") % 2 == 0).select("d").distinct()
    bloom = build_bloom(done, "d", capacity=500_000, fpp=0.01)
    nb = bloom_anti_join(keyed, done, "d", bloom).count()
    npl = keyed.join(done, "d", "left_anti").count()
    results["bloom_anti_sf1"] = {
        "bloom_survivors": int(nb),
        "plain_survivors": int(npl),
        "value_exact": nb == npl,
        "wall_s": round(time.perf_counter() - t0, 1),
    }

    ok = (
        results["contract_at_sf1"]["exit"] == 0
        and kept_sf1 == kept_base
        and c4_equal
        and spark_total == kernel_total
        and nb == npl
    )
    results["ok"] = ok
    print(json.dumps(results))
    if not ok:
        print(proc.stdout[-3000:], file=sys.stderr)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
