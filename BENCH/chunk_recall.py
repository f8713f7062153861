"""Quantify the chunk_dedup grid-alignment recall boundary (round-6
verdict item #4): plant one shared passage into N docs at N distinct
char phases (start offset mod L all different) plus a small group of
phase-matched repeats, then measure how much of the duplicated passage
each method recovers:

  - grid            chunk_dedup(L)               one aligned pass
  - cdc             chunk_dedup_cdc              content-defined chunks
  - minhash (docs)  minhash_lsh_pairs            doc-granularity layer

The phase argument (proved in tests/test_curation_ops.py::
TestChunkAlignment): shifting the grid shifts BOTH instances of a
repeat, so relative phase is invariant — a shifted second pass adds
nothing on phase-mismatched plants. CDC derives boundaries from content, so
instance position is irrelevant.

Usage: python BENCH/chunk_recall.py [n_docs=512]
       python BENCH/chunk_recall.py sweep [n_docs=512]

`sweep` mode (round-6 candidate #5) pins the CDC recall vs state
trade: recall rises as ``avg_tokens`` falls (the un-recovered residue
is the ~2 partial edge chunks per instance, bounded by the average
chunk length), while the dedup table the digest agg must hold grows as
1/avg_tokens (more, shorter chunks). The sweep reports, per
avg_tokens: recall on the all-distinct-phase plants, total chunk
instances (shuffle rows into the digest agg) and distinct eligible
digests (agg state) — the two numbers that size the 100 TB stage.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from streetview_naturevisibility_spark.operators.dedup import minhash_lsh_pairs
from streetview_naturevisibility_spark.operators.textops import (
    chunk_dedup,
    chunk_dedup_cdc,
)
from streetview_naturevisibility_spark.session import get_spark

L = 32
PASSAGE = " ".join(f"passagetok{w:03d}" for w in range(60))


def corpus(n: int):
    rows = []
    for i in range(n):
        prefix = f"d{i:03d}" + "x" * (i % L)
        suffix = f"tail{i:03d} end{i:03d} close{i:03d}"
        rows.append((i, f"{prefix} {PASSAGE} {suffix}"))
    return rows


def sweep(n: int) -> None:
    """CDC avg_tokens sweep: recall vs chunk-table footprint.

    Uses 8 DISTINCT 60-token passages (one passage's cut positions are
    deterministic in its token content, so a single passage gives a
    high-variance point estimate); each passage is planted into n/8
    docs at distinct phases and recall is the aggregate over all 8."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    n_pass, per = 8, max(2, n // 8)
    rows, dup_budget = [], 0
    for p in range(n_pass):
        passage = " ".join(f"p{p}tok{w:03d}" for w in range(60))
        dup_budget += (per - 1) * len(passage)
        for i in range(per):
            did = p * per + i
            prefix = f"d{did:04d}" + "x" * (i % L)
            rows.append(
                (did, f"{prefix} {passage} tail{did:04d} end{did:04d}")
            )
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    orig = dict(rows)

    # chunk-table footprint, computed with the operator's own chunking
    # expressions: total eligible chunk instances (rows shuffled into
    # the digest agg) and distinct eligible digests (agg state held)
    def footprint(avg_tokens: int, min_tokens: int = 4):
        tk = F.split(F.col("text"), " ")
        cut = F.filter(
            F.sequence(F.lit(1), F.size(tk)),
            lambda i: F.pmod(
                F.conv(
                    F.substring(F.md5(F.element_at(tk, i)), 1, 15), 16, 10
                ).cast("long"),
                F.lit(avg_tokens),
            )
            == 0,
        )
        starts = F.concat(F.array(F.lit(1)), F.transform(cut, lambda c: c + 1))
        ends = F.concat(cut, F.array(F.size(tk)))
        chunks = F.filter(
            F.zip_with(
                starts,
                ends,
                lambda s, e: F.when(
                    e >= s, F.concat_ws(" ", F.slice(tk, s, e - s + 1))
                ),
            ),
            lambda c: c.isNotNull()
            & (F.size(F.split(c, " ")) >= F.lit(min_tokens)),
        )
        r = (
            docs.select(F.explode(chunks).alias("c"))
            .agg(
                F.count(F.lit(1)).alias("instances"),
                F.countDistinct(F.md5("c")).alias("digests"),
            )
            .collect()[0]
        )
        return int(r.instances), int(r.digests)

    out = []
    for avg_tokens in (4, 6, 8, 12, 16, 24, 32):
        t0 = time.perf_counter()
        res = {
            r.doc_id: r.text_deduped
            for r in chunk_dedup_cdc(docs, avg_tokens=avg_tokens).collect()
        }
        wall = time.perf_counter() - t0
        removed = sum(len(orig[i]) - len(res[i]) for i in orig)
        instances, digests = footprint(avg_tokens)
        out.append(
            {
                "avg_tokens": avg_tokens,
                "recall": round(removed / dup_budget, 4),
                "chunk_instances": instances,
                "distinct_digests": digests,
                "wall_s": round(wall, 2),
            }
        )
        print(json.dumps(out[-1]))
    print(json.dumps({"n_docs": n, "sweep": out}))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "sweep":
        sweep(int(sys.argv[2]) if len(sys.argv) > 2 else 512)
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 512
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    rows = corpus(n)
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    orig = dict(rows)
    dup_budget = (n - 1) * len(PASSAGE)  # chars beyond the 1st instance

    def recall(fn, label):
        t0 = time.perf_counter()
        out = {r.doc_id: r.text_deduped for r in fn(docs).collect()}
        wall = time.perf_counter() - t0
        removed = sum(len(orig[i]) - len(out[i]) for i in orig)
        return {
            "method": label,
            "removed_chars": removed,
            "recall": round(removed / dup_budget, 4),
            "wall_s": round(wall, 2),
        }

    legs = [
        recall(lambda d: chunk_dedup(d, chunk_chars=L), "grid"),
        recall(lambda d: chunk_dedup_cdc(d), "cdc"),
    ]

    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(
        docs, k=32, bands=8, jaccard_threshold=0.5, hash_method="tokenmix"
    ).count()
    legs.append(
        {
            "method": "minhash(doc pairs)",
            "pairs_found": int(pairs),
            "pairs_expected": n * (n - 1) // 2,
            "recall": round(pairs / (n * (n - 1) // 2), 4),
            "wall_s": round(time.perf_counter() - t0, 2),
        }
    )
    print(json.dumps({"n_docs": n, "L": L, "legs": legs}))


if __name__ == "__main__":
    main()
