"""Deduplication suite for large-scale training-data pipelines.

Four families, all Spark-first:

- exact: hash-groupBy on content digest (one shuffle of digests only);
- MinHash + LSH: shingle -> minhash -> band -> bucket join. Shingle
  hashing is JVM higher-order functions (whole-stage codegen over the
  100 TB side); the k-permutation fold runs as a vectorized Arrow
  kernel (bit-identical to the JVM ``aggregate`` twin it keeps as its
  pytest parity oracle — guide §4.2, measured 2.4x). Default shingle
  hash is "tokenmix" (tokens hashed once, window hashes mixed
  arithmetically — no shingle strings built; 2x the full pipeline vs
  hashing shingle strings); "md5" is the engine-portable oracle twin
  (portability is about the ALGORITHM's SQL restatement, not the
  execution engine);
- SimHash: 64-bit majority-vote signature via a vectorized NumPy pandas
  UDF (bit-parallel: counts per bit over token hashes), hamming-bucket
  candidates;
- token-set Jaccard verify: exact set similarity on candidate pairs via
  array_intersect/array_distinct (JVM-side).

Scale notes: candidate generation is the only shuffle (by band/bucket
key); verification joins texts back by doc id. Every bucket self-join
routes through ``_cap_buckets``: singleton buckets are dropped (classic
LSH pruning) and, when a cap is requested, buckets larger than
``max_bucket`` are dropped entirely — the self-join is quadratic in
bucket size, so one boilerplate bucket with 10^6 members would
otherwise emit 10^12 candidate pairs. The cap is OPT-IN
(``max_bucket=None`` default = exact recall, what the contract oracles
check) and log-and-drop, never silent: pass ``return_metrics=True`` to
also get a lazy 1-row DataFrame counting total/dropped buckets and
dropped members, so a capped run is always distinguishable from an
exact one. Non-identical near-duplicates whose only shared buckets
exceed a cap ARE lost by a capped run — that is the recall/cost trade
the caller makes explicitly, not a default.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..session import fits, materialize

# the permutation domain: (a*h + b) mod 2^32 with a odd is a bijection
# of the 32-bit hash space. The modulus MUST be <= the hash range —
# an earlier draft reduced mod (2^61 - 1), but a*h+b < 2^60 never
# wraps that modulus, so argmin was invariant across "permutations"
# and the k-signature degenerated to one repeated hash (caught by a
# systematic-recall audit: 4/28 strong pairs missed where LSH theory
# allows ~0.1).
_MINHASH_MOD = 1 << 32
# r7: every mod in the minhash path is a power of two over non-negative
# (or two's-complement) operands, so `pmod(x, 2^32)` == `x & (2^32-1)`
# bit-for-bit — one AND instead of a division per op (guide §1.2 step 2:
# per-task work).
_MIX_MASK_V = (1 << 32) - 1
# buckets up to this many members expand their candidate pairs as one
# in-row combination array (m^2/2 structs — 1024 members ~ 8 MB peak);
# larger eligible buckets stream pairs through the classic self-join
_PAIR_GEN_MAX = 1024


def _perm_params(k: int) -> list[tuple[int, int]]:
    # a odd, < 2^28: with 32-bit reduced shingle hashes a*h < 2^60 so
    # ANSI long math never overflows
    rng = np.random.RandomState(1234)
    a = rng.randint(1, 1 << 27, size=k).astype(np.int64) * 2 + 1
    b = rng.randint(0, 1 << 31, size=k).astype(np.int64)
    return list(zip(a.tolist(), b.tolist()))


def shingles_col(text_col: str, n: int = 3):
    """Distinct token n-gram shingles as an array column (JVM HOFs)."""
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.array_distinct(sh)


def _cap_buckets(
    buckets: DataFrame, keys: list[str], max_bucket: int | None
) -> tuple[DataFrame, DataFrame]:
    """Bound the quadratic bucket self-join: drop singleton buckets
    (they emit no pairs) and buckets above ``max_bucket`` (skew cap —
    boilerplate/empty-text buckets at web scale hold millions of
    members; their pairs are exact-dup territory, not near-dup).

    Returns (capped_buckets, metrics) where metrics is a LAZY 1-row
    DataFrame (n_buckets, dropped_buckets, dropped_members) — no silent
    caps. The size filter joins on the same bucket key the self-join
    shuffles on, so AQE co-partitions it for free; no broadcast (the
    bucket dimension is unbounded at 100 TB).
    """
    sizes = buckets.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bsz"))
    over = (
        F.lit(False) if max_bucket is None else F.col("_bsz") > F.lit(int(max_bucket))
    )
    metrics = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.sum(over.cast("long")), F.lit(0)).alias("dropped_buckets"),
        F.coalesce(F.sum(F.when(over, F.col("_bsz")).otherwise(F.lit(0))), F.lit(0)).alias(
            "dropped_members"
        ),
    )
    keep = sizes.where((F.col("_bsz") >= 2) & ~over).select(*keys)
    return buckets.join(keep, keys), metrics


def jaccard_col(ta, tb):
    """Exact token/shingle-set Jaccard |A∩B| / |A∪B| with the
    intersection size evaluated ONCE (let-bound — it appears in both
    numerator and denominator, and Catalyst would otherwise compute
    the array_intersect twice per pair)."""
    from ..functions.hof import let_col

    return let_col(
        F.size(F.array_intersect(ta, tb)).cast("double"),
        lambda ix: ix / (F.size(ta) + F.size(tb) - ix),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content digest: keeper = min id per digest."""
    return df.groupBy(F.md5(F.col(text_col)).alias("digest")).agg(
        F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_dups")
    )


def shingle_hash(s, method: str = "xxhash64"):
    """32-bit shingle hash. ``xxhash64``: fastest JVM path (engine
    specific). ``md5``: engine-PORTABLE — the first 15 md5 hex chars as
    an integer, computable identically in DuckDB as
    ``CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)`` — used by the
    oracle-exact contract variant of the LSH pipeline."""
    if method == "xxhash64":
        return F.xxhash64(s).bitwiseAND(F.lit((1 << 32) - 1))
    return (
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit((1 << 32) - 1))
    )


# tokenmix constants: < 2^30 so (32-bit hash * C) never overflows a
# long under ANSI mode. One odd constant PER WINDOW POSITION — n-gram
# shingling with n > len(_MIX_C) must raise, not silently truncate the
# window to its first len(_MIX_C) tokens.
_MIX_C = (
    1000003, 999983, 754973, 911383,
    826669, 609043, 541699, 483377,
)


def tokenmix_shingle_hashes(text_col: str, n: int = 3):
    """Distinct 32-bit n-gram shingle hashes WITHOUT materializing the
    shingle strings: each token is hashed ONCE (let-bound), and each
    window's hash is an arithmetic mix of its n token hashes. Profiled
    at 50k docs the shingle-string construction (concat_ws per window)
    is ~95% of the signature stage — this path removes it entirely.
    Windows past the end contribute 0 for missing tokens (mirrors the
    truncated-slice semantics of shingles_col for short docs)."""
    from ..functions.hof import let_col

    if n > len(_MIX_C):
        raise ValueError(
            f"tokenmix supports n <= {len(_MIX_C)} (one mix constant per "
            f"window position); got n={n}. Extend _MIX_C with odd "
            "constants < 2^30 or use hash_method='xxhash64'."
        )

    toks = F.split(F.col(text_col), " ")
    th = F.transform(
        toks, lambda t: F.xxhash64(t).bitwiseAND(F.lit((1 << 32) - 1))
    )

    def _windows(thv):
        idx = F.sequence(
            F.lit(1), F.greatest(F.size(thv) - F.lit(n - 1), F.lit(1))
        )

        def _mix(i):
            acc = F.lit(0).cast("long")
            for j, c in enumerate(_MIX_C[:n]):
                # try_element_at: past-the-end positions (docs shorter
                # than n tokens) must yield NULL->0, and plain
                # element_at THROWS under ANSI mode (Spark 4 default)
                e = F.coalesce(F.try_element_at(thv, i + F.lit(j)), F.lit(0))
                acc = (
                    acc + (e * F.lit(c)).bitwiseAND(F.lit(_MIX_MASK_V))
                ).bitwiseAND(F.lit(_MIX_MASK_V))
            return acc

        return F.array_distinct(F.transform(idx, _mix))

    return let_col(th, _windows)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    n: int = 3,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """(id, minhash: array<bigint> of length k): min over shingles of
    (a_i * hash(shingle) + b_i) mod 2^32 for each of k permutations.

    ``hash_method``: "tokenmix" (fastest — arithmetic window mix of
    once-hashed tokens, no shingle strings, see
    ``tokenmix_shingle_hashes``), "xxhash64" (hash of the shingle
    string), or "md5" (engine-portable, the DuckDB-oracle twin).

    The shingle hashes are JVM expressions; all k minima are folded in
    ONE pass per Arrow batch by ``_minhash_fold_kernel`` (a flat NumPy
    sweep and segment-min per permutation), bit-identical to a JVM
    ``F.aggregate`` fold over the same hash array (pytest-pinned)."""
    base = minhash_shingle_frame(df, text_col, id_col, n, hash_method)
    return minhash_signatures_from_shingles(base, k, hash_method)


def minhash_shingle_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """(id, sh) — the per-doc distinct shingle set each LSH stage
    consumes: 32-bit hash arrays for ``tokenmix``, shingle strings
    otherwise. Split out of ``minhash_signatures`` so the pipeline can
    materialize it ONCE and share it between the signature stage and
    the Jaccard verify stage (both need exactly this array)."""
    if hash_method == "tokenmix":
        sh = tokenmix_shingle_hashes(text_col, n)
    else:
        sh = shingles_col(text_col, n)
    return df.select(F.col(id_col).alias("id"), sh.alias("sh"))


def _minhash_fold_kernel(k: int):
    """Vectorized minhash fold for 32-bit shingle-HASH arrays (the
    tokenmix path): per Arrow batch, one ``(flat * a_j + b_j) & mask``
    sweep and a segment-min (``np.minimum.reduceat``) per permutation
    — replacing a JVM ``aggregate``'s per-shingle 2x k-long array
    allocations. int64 arithmetic never exceeds 2^60
    (h < 2^32, a < 2^28), so every value is bit-identical to the JVM
    fold (pytest-pinned; measured 5.5 s -> 2.3 s on 950k docs x ~38
    shingles at k=32). NULL shingle arrays -> NULL signature; empty
    arrays -> the fold's init sentinel row, exactly like
    ``F.aggregate``."""
    from typing import Iterator

    perms = _perm_params(k)
    A = np.array([p[0] for p in perms], dtype=np.int64)
    Bc = np.array([p[1] for p in perms], dtype=np.int64)
    mask = np.int64(_MIX_MASK_V)
    sentinel = np.int64(1 << 33)

    def kern(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            arrs = pdf["sh"].to_list()
            lens = np.fromiter(
                (0 if a is None else len(a) for a in arrs),
                dtype=np.int64,
                count=n,
            )
            flat = (
                np.concatenate(
                    [
                        np.asarray(a, dtype=np.int64)
                        for a in arrs
                        if a is not None and len(a)
                    ]
                )
                if lens.sum()
                else np.empty(0, dtype=np.int64)
            )
            starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
            out = np.full((n, k), sentinel, dtype=np.int64)
            nonempty = lens > 0
            ne_starts = starts[nonempty]
            for j in range(k):
                if ne_starts.size:
                    v = (flat * A[j] + Bc[j]) & mask
                    out[nonempty, j] = np.minimum.reduceat(v, ne_starts)
            res = pd.DataFrame(
                {"id": pdf["id"].to_numpy(), "minhash": list(out)}
            )
            nulls = np.fromiter(
                (a is None for a in arrs), dtype=bool, count=n
            )
            if nulls.any():
                res.loc[nulls, "minhash"] = None
            yield res

    return kern


def minhash_signatures_from_shingles(
    base: DataFrame, k: int, hash_method: str
) -> DataFrame:
    """(id, minhash) from a ``minhash_shingle_frame`` output: the
    32-bit shingle hashes are computed in the JVM (xxhash64/md5 —
    engine-portable semantics are about the algorithm, not the
    execution engine) and the k permutations fold in the vectorized
    Arrow kernel (``_minhash_fold_kernel``)."""
    id_type = base.schema["id"].dataType.simpleString()
    hs = (
        F.col("sh")
        if hash_method == "tokenmix"
        else F.transform(F.col("sh"), lambda s: shingle_hash(s, hash_method))
    )
    return base.select("id", hs.alias("sh")).mapInPandas(
        _minhash_fold_kernel(k), f"id {id_type}, minhash array<long>"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = None,
    return_metrics: bool = False,
    hash_method: str = "tokenmix",
) -> DataFrame:
    """Candidate pairs via banded LSH, verified with exact token-shingle
    Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b; with
    ``return_metrics`` also the lazy drop-metrics frame (see
    ``_cap_buckets``). ``hash_method="md5"`` makes every stage
    engine-portable (string band keys, md5 shingle hash) so a DuckDB
    oracle can reproduce the pipeline exactly.

    ``max_bucket`` defaults to None (EXACT: no bucket is dropped, the
    contract/oracle behavior). At 100 TB scale pass a cap (e.g.
    10_000) — the bucket self-join is quadratic and one boilerplate
    bucket would otherwise emit ~10^12 pairs — and read the drop
    metrics via ``return_metrics=True`` so a capped run is always
    distinguishable from an exact one."""
    if k % bands:
        raise ValueError(
            f"bands ({bands}) must divide k ({k}): a truncated signature "
            "silently changes the (k, bands) probability curve"
        )
    rows = k // bands
    # r7 restructure (guide §2.4 remove shuffles / §1.2 algorithm
    # first): the upstream lineage used to be re-evaluated ~5x per
    # action — the bucket self-join evaluates its subtree twice, the
    # cap-size aggregate a third time, and the two verify joins
    # re-shingled the whole corpus twice more. Now the per-doc shingle
    # frame is materialized ONCE and shared by the signature stage AND
    # the verify stage (tokenmix verifies over exactly the same hash
    # arrays the signatures fold); the exploded band-bucket frame is
    # materialized once more so the self-join + cap sizes read blocks
    # instead of recomputing the k-permutation fold. Compute happens
    # at CALL time (the knn_snap precedent).
    sh_frame, sh_st = materialize(
        minhash_shingle_frame(df, text_col, id_col, n, hash_method)
    )
    sig = minhash_signatures_from_shingles(sh_frame, k, hash_method)
    band_cols = []
    for b in range(bands):
        band = F.slice(F.col("minhash"), b * rows + 1, rows)
        # fast path condenses the band to a 64-bit hash; portable path
        # keeps the joined decimal string (identical in any engine)
        bh = (
            F.concat_ws("|", band)
            if hash_method == "md5"
            else F.xxhash64(band.cast("string"))
        )
        band_cols.append(F.struct(F.lit(b).alias("band"), bh.alias("bh")))
    buckets = sig.select(
        "id", F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )
    # r7 candidate generation: ONE groupBy materializes each bucket's
    # member list (replacing sizes-aggregate + cap join + self-join —
    # three passes over the bucket frame and two extra Exchanges of
    # it). Metrics, the cap filter and pair generation all read the
    # checkpointed grouped frame. Pairs come from an in-row
    # combination expansion for buckets up to _PAIR_GEN_MAX members
    # (the overwhelming majority — LSH buckets are near-dup groups);
    # larger eligible buckets fall back to the classic per-bucket
    # self-join, which streams the quadratic output instead of
    # materializing one giant in-row array. Same pair set either way
    # (sorted members, i<j), same metrics.
    grouped, _ = materialize(
        buckets.groupBy("band", "bh").agg(
            F.count(F.lit(1)).alias("_bsz"),
            F.collect_list("id").alias("_ids"),
        )
    )
    over = (
        F.lit(False)
        if max_bucket is None
        else F.col("_bsz") > F.lit(int(max_bucket))
    )
    metrics = grouped.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.sum(over.cast("long")), F.lit(0)).alias("dropped_buckets"),
        F.coalesce(
            F.sum(F.when(over, F.col("_bsz")).otherwise(F.lit(0))), F.lit(0)
        ).alias("dropped_members"),
    )
    elig = grouped.where((F.col("_bsz") >= 2) & ~over)
    small_b = elig.where(F.col("_bsz") <= F.lit(_PAIR_GEN_MAX))
    big_b = elig.where(F.col("_bsz") > F.lit(_PAIR_GEN_MAX))

    def _combos(ids_sorted):
        m = F.size(ids_sorted)
        return F.flatten(
            F.transform(
                ids_sorted,
                lambda x, i: F.transform(
                    F.slice(ids_sorted, i + F.lit(2), m - i - F.lit(1)),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )

    from ..functions.hof import let_col

    pairs_small = small_b.select(
        F.explode(let_col(F.array_sort("_ids"), _combos)).alias("p")
    ).select("p.id_a", "p.id_b")
    bige = big_b.select("band", "bh", F.explode("_ids").alias("id"))
    ba, bb = bige.alias("a"), bige.alias("b")
    pairs_big = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh")),
        )
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    cand = pairs_small.union(pairs_big).distinct()

    # Verify joins read the materialized shingle frame — no upstream
    # re-evaluation, no second corpus-wide shingle pass. The candidate
    # set is materialized (it is consumed by both verify joins) and
    # each verify join broadcasts its small side when that ``fits``, so
    # the shingle frame is never shuffled (a checkpointed frame carries
    # no size statistics, so Catalyst would otherwise pick a sort-merge
    # join). ``j1`` is one shingle row per candidate pair.
    spark = df.sparkSession
    cand, st = materialize(cand)
    sh_a = sh_frame.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a")
    sh_b = sh_frame.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b")
    j1 = sh_a.join(F.broadcast(cand) if fits(spark, st["bytes"]) else cand, "id_a")
    j1_bytes = st["rows"] * sh_st["bytes"] / max(sh_st["rows"], 1)
    verified = (
        sh_b.join(F.broadcast(j1), "id_b")
        if fits(spark, j1_bytes)
        else j1.join(sh_b, "id_b")
    )
    verified = (
        verified.withColumn("jaccard", jaccard_col(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jaccard") >= F.lit(jaccard_threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return (verified, metrics) if return_metrics else verified


def fnv1a64_vec(tokens: np.ndarray) -> np.ndarray:
    """Vectorized FNV-1a 64-bit (masked column sweep over the padded
    token byte matrix — same trick as functions/text.fnv1a32). The mask
    is positional (byte index < token length), so tokens with embedded
    NUL bytes hash identically to scalar byte-wise FNV-1a 64."""
    from ..functions.text import _token_byte_matrix

    mat, lengths = _token_byte_matrix(
        np.array([t.encode("utf-8") for t in tokens], dtype=object)
    )
    n = mat.shape[0]
    h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    with np.errstate(over="ignore"):
        for j in range(mat.shape[1]):
            col = mat[:, j].astype(np.uint64)
            live = j < lengths
            upd = (h ^ col) * prime
            h = np.where(live, upd, h)
    return h


def simhash_kernel(texts: pd.Series, bits: int = 64) -> pd.Series:
    """Vectorized SimHash: per-bit majority vote over FNV-64 token
    hashes (NumPy bit-parallel; one fnv1a64_vec call per document's
    distinct tokens)."""
    out = np.zeros(len(texts), dtype=np.int64)
    shifts = np.arange(bits, dtype=np.uint64)
    for i, t in enumerate(texts):
        if not t:
            continue
        toks = np.unique(np.array(t.split(" "), dtype=object))
        hs = fnv1a64_vec(toks)
        bitmat = ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
        votes = bitmat.sum(axis=0) * 2 - len(hs)
        sig = np.uint64(0)
        for j in range(bits):
            if votes[j] > 0:
                sig |= np.uint64(1) << np.uint64(j)
        out[i] = np.int64(sig.astype(np.int64))
    return pd.Series(out)


simhash_udf = F.pandas_udf(lambda s: simhash_kernel(s), LongType())


SIMHASH_MD5_BITS = 60  # '0x'+15 md5 hex chars -> 60-bit portable hash


def simhash_sig_md5_col(text_col: str):
    """Engine-portable SimHash signature as PURE column algebra: 60-bit
    md5-based token hashes (the same portable hash as shingle_hash),
    per-bit majority vote via one aggregate per bit. Wide but
    mechanical — Catalyst handles it; the DuckDB twin is generated from
    the same loop, so the contract variant is oracle-exact. The
    vectorized NumPy kernel (simhash_udf) remains the fast path."""
    from ..functions.hof import let_col

    toks = F.array_distinct(F.split(F.col(text_col), " "))
    hs = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )

    # let-bind hs: the 60 per-bit aggregates + the size() guard would
    # otherwise each inline the md5 token hashing (61x recompute)
    def _sig(hsv):
        n = F.size(hsv).cast("long")

        def _ones(bit: int):
            # factory: Spark infers HOF lambda arity — must be a true
            # 2-arg merge lambda (no default-arg closures)
            def merge(acc, h):
                return acc + F.shiftrightunsigned(h, bit).bitwiseAND(F.lit(1))

            return F.aggregate(hsv, F.lit(0).cast("long"), merge)

        sig = F.lit(0).cast("long")
        for b in range(SIMHASH_MD5_BITS):
            sig = sig + F.when(_ones(b) * 2 > n, F.lit(1 << b)).otherwise(F.lit(0))
        return sig

    return let_col(hs, _sig)


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    max_bucket: int | None = None,
    return_metrics: bool = False,
    hash_method: str = "fnv64",
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket by 16-bit signature chunks
    (pigeonhole: any pair within hamming<=max_hamming over 64 bits
    shares at least one of 4 exact 16-bit chunks when max_hamming<=3;
    for larger radii this is a recall-bounded heuristic, documented),
    verify with exact popcount. ``max_bucket`` defaults to None (exact,
    the contract behavior); at web scale pass a cap and read the drop
    metrics via ``return_metrics=True`` (see ``_cap_buckets``). ``hash_method="md5"`` switches to
    the engine-portable 60-bit column-algebra signature (15-bit chunks,
    oracle-exact in DuckDB); the default "fnv64" is the vectorized
    NumPy fast path."""
    if hash_method == "md5":
        sig_col = simhash_sig_md5_col(text_col)
        chunk_bits, n_bits = 15, SIMHASH_MD5_BITS
    else:
        sig_col = simhash_udf(F.col(text_col))
        chunk_bits, n_bits = 16, 64
    sig = df.select(F.col(id_col).alias("id"), sig_col.alias("sig"))
    mask = (1 << chunk_bits) - 1
    chunks = []
    for c in range(n_bits // chunk_bits):
        chunks.append(
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned(F.col("sig"), c * chunk_bits)
                .bitwiseAND(F.lit(mask))
                .alias("cv"),
            )
        )
    buckets = sig.select("id", "sig", F.explode(F.array(*chunks)).alias("ck")).select(
        "id", "sig", F.col("ck.chunk").alias("chunk"), F.col("ck.cv").alias("cv")
    )
    buckets, metrics = _cap_buckets(buckets, ["chunk", "cv"], max_bucket)
    a = buckets.alias("a")
    b_ = buckets.alias("b")
    pairs = (
        a.join(b_, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.cv") == F.col("b.cv")))
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= F.lit(max_hamming))
    )
    return (pairs, metrics) if return_metrics else pairs


def token_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    bucket_width: int = 10,
    max_bucket: int | None = None,
) -> DataFrame:
    """n-gram(1) token-set Jaccard near-dup: length-bucketed candidate
    self-join, exact verify via array ops. Candidate completeness:
    jaccard >= t implies min(|A|,|B|)/max(|A|,|B|) >= t, so each doc
    of size s emits every bucket in [floor(t*s/w), floor(s/(t*w))] —
    any qualifying pair's real intervals [t*max, min/t] overlap (t^2 <=
    min/max), and floor monotonicity carries the overlap to the
    integer bucket ranges. (An earlier draft emitted only buckets
    {s//w, s//w+1}, which silently missed pairs whose sizes differ by
    more than ~2w while still satisfying the ratio bound.)

    SCALE WARNING: length bucketing is a weak LSH — within one bucket
    the join is all-pairs, and at web scale a single length bucket
    holds billions of docs. This operator is the EXACT, oracle-twinned
    verify stage for bounded inputs (and the pytest ground truth for
    `minhash_lsh_pairs`); the 100 TB path generates candidates with
    MinHash-LSH and verifies them with the same array-intersect
    Jaccard expression. ``max_bucket`` (default None = exact) applies
    the same drop-cap as the LSH operators when you do need a bound."""
    t = float(threshold)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(F.split(F.col(text_col), " ")).alias("tk"),
    ).withColumn("sz", F.size("tk"))
    lo = F.floor(F.col("sz") * F.lit(t) / F.lit(bucket_width)).cast("int")
    hi = F.floor(F.col("sz") / F.lit(t * bucket_width)).cast("int")
    # Candidates carry ids only; a pair sharing m buckets collapses to
    # ONE row via distinct BEFORE the token arrays are joined back, so
    # the array_intersect verify evaluates exactly once per pair
    # (mirrors minhash_lsh_pairs' candidate/verify split — previously
    # the Jaccard ran m times and deduped after).
    buckets = toks.select(
        "id", F.explode(F.sequence(lo, hi)).alias("bucket")
    )
    if max_bucket is not None:
        buckets, _ = _cap_buckets(buckets, ["bucket"], max_bucket)
    a = buckets.alias("a")
    b_ = buckets.alias("b")
    cand = (
        a.join(b_, F.col("a.bucket") == F.col("b.bucket"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    tkmap = toks.select("id", "tk")
    return (
        cand.join(
            tkmap.withColumnRenamed("id", "id_a").withColumnRenamed("tk", "tk_a"),
            "id_a",
        )
        .join(
            tkmap.withColumnRenamed("id", "id_b").withColumnRenamed("tk", "tk_b"),
            "id_b",
        )
        .withColumn("jaccard", jaccard_col(F.col("tk_a"), F.col("tk_b")))
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
