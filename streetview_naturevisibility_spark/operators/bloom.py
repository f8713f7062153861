"""Distributed Bloom filter for done-set membership (incremental
exact dedup at 100 TB).

Problem shape: the incremental funnel must anti-join each new batch
against the digests of EVERYTHING already curated. A plain left-anti
join shuffles the (huge, ever-growing) done set every batch. A Bloom
filter built once over the done set turns that into a broadcast-probe
map stage: bits are set from two JVM-side xxhash64 values via double
hashing (Kirsch & Mitzenmacher 2006 — k derived positions from two
hashes, the standard public construction), and only the ~fpp fraction
of the batch that probes positive pays the exact residual join. No
false negatives, so the combined result is EXACTLY the anti-join.

Build shape: one map-only pass over the done set (per-partition
bitmaps accumulated in numpy inside mapInPandas), a fan-in OR reduce
keyed on ``partition_id % fanin`` (so the driver never collects more
than ``fanin`` bitmaps regardless of partition count), final OR
driver-side. The bitmap is then an sc.broadcast numpy array; probing
is a vectorized Arrow-batched lookup, zero shuffle.

Sizing: m = ceil(-n ln p / ln^2 2) bits, k = max(1, round(m/n ln 2)).
1e9 done digests at fpp=0.01 is ~1.2 GB of bits — broadcastable; at
1e10, shard by digest prefix and build one filter per shard (the build
below is already keyed, callers split upstream).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import fits, materialize

_H2_SALT = 0x5BD1E995  # second-hash salt column (any fixed literal)
_SLICE = 4 << 20  # bitmap shard size for the build shuffle (bytes)


def bloom_params(capacity: int, fpp: float = 0.01) -> tuple[int, int]:
    """-> (m_bits, k). m rounded up to a byte multiple."""
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    capacity = max(1, int(capacity))
    m = int(math.ceil(-capacity * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 7) & ~7
    k = max(1, round(m / capacity * math.log(2)))
    return m, k


def _hash_cols(col):
    """Two independent 64-bit hashes, computed JVM-side (codegen)."""
    return (
        F.xxhash64(col).alias("_h1"),
        F.xxhash64(col, F.lit(_H2_SALT)).alias("_h2"),
    )


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) bit positions via double hashing; int64 overflow wraps
    (hash mixing, not arithmetic) and the final mod is non-negative."""
    j = np.arange(k, dtype=np.int64)
    with np.errstate(over="ignore"):
        pos = h1[:, None] + j[None, :] * h2[:, None]
    return (pos % m + m) % m


def build_bloom(
    df: DataFrame,
    col: str,
    capacity: int,
    fpp: float = 0.01,
    fanin: int = 16,
) -> dict:
    """Build over df[col] (digests/keys; NULLs ignored). Returns
    {"bits": np.uint8 array, "m": m_bits, "k": k} — pass to
    ``bloom_probe_col``/``bloom_anti_join``."""
    m, k = bloom_params(capacity, fpp)
    hashed = df.where(F.col(col).isNotNull()).select(*_hash_cols(F.col(col)))
    # r7 (advisor finding): emit the per-partition bitmap as FIXED-SIZE
    # SLICES keyed (slice_idx, grp) instead of one m/8-byte row per
    # partition — at the docstring's own 1e9-digest design point a full
    # row is ~1.2 GB, which exceeds Arrow/shuffle record limits and
    # concentrates the whole filter in one reduce group. Slices OR per
    # (slice, grp), then per slice, so no single row or reduce group
    # exceeds _SLICE bytes; the driver assembles exactly m/8 bytes from
    # <= n_slices rows. Same bits, verified by the no-false-negative /
    # survivors-equality pytest suite.
    n_bytes = m // 8
    slice_bytes = min(n_bytes, _SLICE)
    n_slices = -(-n_bytes // slice_bytes)

    def partition_bitmap(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        bits = np.zeros(n_bytes, dtype=np.uint8)
        seen = False
        for pdf in it:
            if not len(pdf):
                continue
            seen = True
            pos = _positions(
                pdf["_h1"].to_numpy(np.int64),
                pdf["_h2"].to_numpy(np.int64),
                k,
                m,
            ).ravel()
            np.bitwise_or.at(
                bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8)
            )
        if seen:
            grp = TaskContext.get().partitionId() % fanin
            for s in range(n_slices):
                sl = bits[s * slice_bytes : (s + 1) * slice_bytes]
                if sl.any():  # all-zero slices add nothing to the OR
                    yield pd.DataFrame(
                        {"slice": [s], "grp": [grp], "bits": [sl.tobytes()]}
                    )

    parts = hashed.mapInPandas(
        partition_bitmap, "slice int, grp int, bits binary"
    )

    def or_group(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.frombuffer(pdf["bits"].iloc[0], dtype=np.uint8).copy()
        for b in pdf["bits"].iloc[1:]:
            acc |= np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame(
            {"slice": [int(pdf["slice"].iloc[0])], "bits": [acc.tobytes()]}
        )

    merged = (
        parts.groupBy("slice", "grp")
        .applyInPandas(or_group, "slice int, bits binary")
        .groupBy("slice")
        .applyInPandas(or_group, "slice int, bits binary")
    )
    final = np.zeros(n_bytes, dtype=np.uint8)
    for r in merged.collect():  # <= n_slices rows, m/8 bytes total
        s = int(r.slice)
        sl = np.frombuffer(r.bits, dtype=np.uint8)
        final[s * slice_bytes : s * slice_bytes + len(sl)] |= sl
    return {"bits": final, "m": m, "k": k}


def bloom_probe_col(df: DataFrame, col: str, bloom: dict) -> DataFrame:
    """Append ``_maybe_member`` (bool). Broadcast bitmap, hashes
    JVM-side, lookup an Arrow-batched vectorized numpy gather —
    map-only.

    r7 (advisor findings): the bitmap broadcast is created ONCE per
    filter lifetime and cached on the ``bloom`` dict — repeated probes
    of many batches against one filter used to leak one ~GB-scale
    broadcast per call. The probe UDF is marked ``asNondeterministic``
    (it is pure, but must not be propagated): Catalyst otherwise
    infers the probe predicate onto the DONE side of the residual
    semi-join, adding a full Python pass over the ever-growing done
    set."""
    m, k = bloom["m"], bloom["k"]
    bc = bloom.get("_bc")
    if bc is None:
        bc = df.sparkSession.sparkContext.broadcast(bloom["bits"])
        bloom["_bc"] = bc

    @F.pandas_udf("boolean")
    def probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        bits = bc.value
        if not len(h1):
            return pd.Series([], dtype=bool)
        pos = _positions(
            h1.to_numpy(np.int64), h2.to_numpy(np.int64), k, m
        )
        hit = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
        return pd.Series(hit.all(axis=1))

    probe = probe.asNondeterministic()
    c = F.col(col)
    return df.withColumn(
        "_maybe_member",
        F.when(
            c.isNotNull(),
            probe(F.xxhash64(c), F.xxhash64(c, F.lit(_H2_SALT))),
        ).otherwise(F.lit(False)),
    )


def bloom_anti_join(
    batch: DataFrame,
    done: DataFrame,
    col: str,
    bloom: dict,
) -> DataFrame:
    """EXACT ``batch LEFT ANTI JOIN done ON col`` where only the
    Bloom-positive candidate keys (true members + ~fpp false positives)
    ever meet the done set. ``bloom`` must have been built over
    done[col] (no false negatives => exactness).

    One probe pass materializes the distinct candidate keys; the done
    set is semi-joined against them (``matches``, at most the candidate
    count) and the untouched batch is anti-joined against ``matches``.
    The probe runs once: splitting the batch into a certain-miss and a
    candidate branch instead re-runs it once per branch (measured
    16.4 s vs 7.0 s at 8M rows). When the candidates ``fits`` the
    broadcast budget, both joins broadcast their small side: the done
    set is scanned, never shuffled — the shape that wins when done is
    far beyond broadcast size and the per-batch overlap is small (the
    incremental-funnel steady state). Otherwise Spark picks both join
    strategies.
    """
    probed = bloom_probe_col(batch, col, bloom)
    cand_keys, st = materialize(
        probed.where(F.col("_maybe_member")).select(F.col(col)).distinct()
    )
    small = fits(batch.sparkSession, st["bytes"])
    matches = (
        done.select(F.col(col))
        .join(F.broadcast(cand_keys) if small else cand_keys, on=col, how="left_semi")
        .distinct()
    )
    return batch.join(
        F.broadcast(matches) if small else matches, on=col, how="left_anti"
    )
