"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: dot product / norms as JVM higher-order
  functions (zip_with + aggregate) — whole-stage codegen, exact
  baseline; TakeOrderedAndProject for the top-k (no full sort).
- LSH-bucketed ANN: deterministic random-hyperplane signatures computed
  in a vectorized NumPy pandas UDF (one matmul per Arrow batch); at
  query time only matching multi-probe buckets are scanned.
- IVF: vectors in inverted lists by nearest centroid; queries scan only
  the nearest lists (``ivf_topk_pinned``, literal centroids).
- embedding-cosine near-dup pairs: same hyperplane buckets self-joined,
  exact cosine verify.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from ..session import fits, materialize


def cosine_col(vec_col, query: list[float]):
    """cos(vec, query) as pure JVM expressions."""
    q = F.array(*[F.lit(float(v)) for v in query])
    dot = F.aggregate(
        F.zip_with(vec_col, q, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nv = F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda a: a.cast("double") * a.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nq = float(np.sqrt(np.sum(np.asarray(query, dtype=np.float64) ** 2)))
    return dot / (nv * F.lit(nq))


def brute_force_topk(
    df: DataFrame, query: list[float], k: int = 10, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine top-k (ties broken by id for determinism)."""
    return (
        df.select(F.col(id_col).alias("id"), cosine_col(F.col(vec_col), query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
        .select("id", F.round("cosine", 6).alias("cosine"))
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def make_lsh_sig_udf(planes: np.ndarray):
    """Signature = bit pattern of sign(P @ v), one matmul per batch."""

    @F.pandas_udf(IntegerType())
    def lsh_sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=np.int32)
        mat = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        signs = (mat @ planes.T) > 0
        weights = (1 << np.arange(planes.shape[0])).astype(np.int64)
        return pd.Series((signs @ weights).astype(np.int32))

    return lsh_sig


def ann_topk_lsh(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    multiprobe_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: scan only buckets whose signature is within
    ``multiprobe_hamming`` of the query's signature, exact cosine
    inside. Signatures are computed inline per query."""
    planes = hyperplanes(len(query), n_planes, seed)
    probe = query_probe_sigs(query, n_planes, multiprobe_hamming, seed)
    sig_udf = make_lsh_sig_udf(planes)
    sigs = df.withColumn("_sig", sig_udf(F.col(vec_col)))
    cand = sigs.where(F.col("_sig").isin(probe))
    return (
        cand.select(F.col(id_col).alias("id"), cosine_col(F.col(vec_col), query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
        .select("id", F.round("cosine", 6).alias("cosine"))
    )


def query_probe_sigs(
    query: list[float], n_planes: int, multiprobe_hamming: int, seed: int
) -> list[int]:
    """The bucket signatures a query scans (its own + 1-bit flips)."""
    q = np.asarray(query, dtype=np.float64)
    planes = hyperplanes(len(query), n_planes, seed)
    qsig = int(((planes @ q) > 0) @ (1 << np.arange(n_planes)).astype(np.int64))
    probe = [qsig]
    if multiprobe_hamming >= 1:
        probe += [qsig ^ (1 << j) for j in range(n_planes)]
    return probe


def build_ivf_index(
    df: DataFrame,
    out_path: str,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_sample: int = 2000,
    seed: int = 13,
) -> np.ndarray:
    """Materialize the IVF index: k-means centroids fit driver-side on
    a bounded deterministic sample, every vector assigned ONCE and
    stored partitioned by list id; centroids persist beside the data as
    an underscore-prefixed sidecar (ignored by parquet discovery).
    Returns the centroids."""
    import json
    import os

    sample = np.stack(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in df.select(vec_col).orderBy(id_col).limit(train_sample).collect()
        ]
    )
    centroids = kmeans_fit(sample, min(n_lists, len(sample)), seed=seed)
    assign = make_ivf_assign_udf(centroids)
    (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("list_id", assign(F.col("v")))
        .write.partitionBy("list_id")
        .mode("overwrite")
        .parquet(out_path)
    )
    with open(os.path.join(out_path, "_centroids.json"), "w") as f:
        json.dump(centroids.tolist(), f)
    return centroids


def kmeans_fit(
    vectors: np.ndarray, k: int, iters: int = 10, seed: int = 13
) -> np.ndarray:
    """Deterministic Lloyd's k-means (NumPy, driver-side) — the coarse
    quantizer for the IVF index. Fits on a bounded sample."""
    rng = np.random.RandomState(seed)
    centroids = vectors[rng.choice(len(vectors), size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((vectors[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                centroids[c] = vectors[mask].mean(axis=0)
    return centroids


def pinned_centroids(n_lists: int, dim: int, seed: int = 21) -> np.ndarray:
    """Deterministic data-INdependent coarse quantizer: unit-normalized
    seeded gaussian directions. Since the corpus embeddings are unit
    vectors, |c|^2 is constant across centroids and argmin d^2 ==
    argmax v.c — direction-balanced lists without fitting. Used by the
    oracle-exact contract variant (``ivf_topk_pinned``); production
    keeps the k-means fit (``build_ivf_index``) for data-adapted
    lists."""
    rng = np.random.RandomState(seed)
    c = rng.randn(n_lists, dim)
    return c / np.sqrt((c**2).sum(axis=1, keepdims=True))


def sq_dist_col(vec_col, centroid) -> "F.Column":
    """Squared euclidean distance to a literal centroid as a JVM
    higher-order fold — sequential left-to-right sum, the same FP
    evaluation order DuckDB's list_sum(list_transform(...)) uses, so an
    oracle can reproduce the value bit-for-bit."""
    c = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(vec_col, c, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_assign_col(vec_col, centroids: np.ndarray):
    """Nearest-centroid list id as pure Column math: array of literal
    squared distances, argmin = 0-based position of the first minimum
    (ties -> lowest list id, matching DuckDB list_position)."""
    d = F.array(*[sq_dist_col(vec_col, c) for c in centroids])
    return (F.array_position(d, F.array_min(d)) - F.lit(1)).cast("int")


def _seq_sq_dist(a, b) -> float:
    """Driver-side twin of ``sq_dist_col``: strict sequential fold in
    Python floats (IEEE double) — NOT np.sum, whose pairwise summation
    could diverge in the last ulp and flip a probe-ranking tie."""
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc += d * d
    return acc


def ivf_topk_pinned(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 21,
) -> DataFrame:
    """IVF top-k with PINNED literal centroids — the oracle-exact
    contract form: no k-means fit, no training-sample collect, no UDF
    anywhere in the plan. Assignment and probe selection are literal
    expressions a DuckDB twin restates verbatim
    (``__spark_entry__._ivf_oracle_sql``); whole-stage codegen end to
    end. Probe lists are chosen driver-side from the same literals with
    the same sequential-fold arithmetic."""
    centroids = pinned_centroids(n_lists, len(query), seed)
    qd = [_seq_sq_dist(query, c) for c in centroids]
    # stable argsort: ties -> lowest list id (SQL twin: ORDER BY d, i)
    probe = sorted(range(n_lists), key=lambda i: (qd[i], i))[:n_probe]
    cand = df.where(ivf_assign_col(F.col(vec_col), centroids).isin([int(p) for p in probe]))
    return (
        cand.select(F.col(id_col).alias("id"), cosine_col(F.col(vec_col), query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
        .select("id", F.round("cosine", 6).alias("cosine"))
    )


def make_ivf_assign_udf(centroids: np.ndarray):
    """list id of the nearest centroid per vector (one matmul/batch)."""

    @F.pandas_udf(IntegerType())
    def ivf_assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=np.int32)
        mat = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        d2 = (
            (mat**2).sum(axis=1, keepdims=True)
            - 2.0 * mat @ centroids.T
            + (centroids**2).sum(axis=1)[None, :]
        )
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    return ivf_assign


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    dim: int = 64,
    max_bucket: int | None = 10_000,
    return_metrics: bool = False,
) -> DataFrame:
    """Embedding near-dup pairs: hyperplane-bucket self-join + exact
    cosine verify (recall bounded by bucket collision probability;
    raise n_planes for precision, add probes for recall). Buckets above
    ``max_bucket`` (e.g. the all-zeros bucket of zero vectors, or a
    boilerplate-embedding cluster) drop with lazy metrics — the bucket
    self-join is quadratic in bucket size (see dedup._cap_buckets)."""
    from .dedup import _cap_buckets

    planes = hyperplanes(dim, n_planes, seed)
    sig_udf = make_lsh_sig_udf(planes)
    sigs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).withColumn(
        "sig", sig_udf(F.col("v"))
    )
    sigs, metrics = _cap_buckets(sigs, ["sig"], max_bucket)
    a = sigs.alias("a")
    b = sigs.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda side: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(F.col(f"{side}.v"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    pairs = (
        a.join(b, F.col("a.sig") == F.col("b.sig"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (dot / (norm("a") * norm("b"))).alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )
    return (pairs, metrics) if return_metrics else pairs


def pairwise_cosine_col(va, vb):
    """cos(va, vb) for two row vectors as pure JVM folds — the same
    sequential left-to-right arithmetic as ``cosine_col`` so a DuckDB
    list_sum/list_transform twin reproduces every value bit-for-bit."""
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return dot / (norm(va) * norm(vb))


def _assign_rows(
    mat: np.ndarray, centroids: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The SemDeDup assignment kernel over an (n, dim) float64 matrix:
    -> (list id = argmin of ``|v|^2 - 2 v.c + |c|^2``, cosine to the
    assigned centroid, unit-normalized rows)."""
    cn2 = (centroids**2).sum(axis=1)
    ct = np.ascontiguousarray(centroids.T)
    nrow = len(mat)
    vnorm = np.sqrt((mat**2).sum(axis=1))
    v2 = vnorm**2
    lid = np.empty(nrow, dtype=np.int64)
    # Chunked, buffer-reusing distance computation: a full
    # (batch x n_lists) float64 matrix at 10k x 4096 is ~330 MB
    # and the naive expression allocates several of them PER
    # BATCH — with N workers that is an mmap/page-fault storm
    # (measured >95% system CPU, 673 s for the 1M-vector leg).
    # One 4096-row scratch buffer reused in place keeps the
    # resident set flat.
    CH = 4096
    dbuf = np.empty((min(CH, nrow), len(cn2)))
    for s0 in range(0, nrow, CH):
        e = min(s0 + CH, nrow)
        nb = e - s0
        np.matmul(mat[s0:e], ct, out=dbuf[:nb])
        dbuf[:nb] *= -2.0
        dbuf[:nb] += cn2[None, :]
        dbuf[:nb] += v2[s0:e, None]
        lid[s0:e] = dbuf[:nb].argmin(axis=1)
    # dot(v, assigned centroid) recomputed cheaply (nrow x dim)
    dd = np.einsum("ij,ij->i", mat, centroids[lid])
    cc = dd / (vnorm * np.sqrt(cn2)[lid])
    return lid, cc, mat / vnorm[:, None]


def make_assign_ccos_udf(centroids: np.ndarray):
    """(list id, cosine-to-assigned-centroid, UNIT-NORMALIZED vector)
    per input vector in ONE Arrow pass — a matmul per batch, so
    ``n_lists`` can be thousands (the SemDeDup sqrt(N)-clusters
    regime) without the literal-expression blowup of the pure-Column
    path. Emitting the normalized vector here means the downstream
    pair join computes cosine as a SINGLE dot-product fold instead of
    dot + two norms (3x fewer higher-order-function evaluations on the
    quadratic pair stream — measured 3.4x on the 1M-vector bench
    leg)."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    out_t = StructType(
        [
            StructField("list_id", IntegerType()),
            StructField("ccos", DoubleType()),
            StructField("vn", ArrayType(DoubleType())),
        ]
    )

    @F.pandas_udf(out_t)
    def assign_ccos(vecs: pd.Series) -> pd.DataFrame:
        out = pd.DataFrame(
            {
                "list_id": pd.array([pd.NA] * len(vecs), dtype="Int32"),
                "ccos": pd.array([pd.NA] * len(vecs), dtype="Float64"),
                "vn": [None] * len(vecs),
            }
        )
        mask = vecs.notna().to_numpy()
        if not mask.any():
            return out
        mat = np.stack(
            vecs[mask].map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy()
        )
        lid, cc, vn = _assign_rows(mat, centroids)
        out.loc[mask, "list_id"] = lid.astype(np.int32)
        out.loc[mask, "ccos"] = cc
        out.loc[mask, "vn"] = pd.Series(list(vn), index=out.index[mask])
        return out

    return assign_ccos


def _assign_ccos_vnb_batches(centroids: np.ndarray):
    """mapInPandas twin of ``make_assign_ccos_udf`` for the
    pairs='local' path (r7): the same ``_assign_rows`` kernel, but the
    unit-normalized vector leaves the stage as ONE flat float64 BINARY
    cell instead of an Arrow list<double> — the pair stage then
    rebuilds each cluster's matrix with a single ``np.frombuffer``
    instead of 10k-per-batch list conversions (guide §4.2: binary
    columns are re-sliced buffers, not per-element structures)."""
    from typing import Iterator

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            vs = pdf["v"].to_list()
            mask = np.fromiter(
                (x is not None for x in vs), dtype=bool, count=n
            )
            out = pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "list_id": pd.array([pd.NA] * n, dtype="Int32"),
                    "ccos": pd.array([pd.NA] * n, dtype="Float64"),
                    "vnb": [None] * n,
                }
            )
            if mask.any():
                mat = np.stack(
                    [
                        np.asarray(v, dtype=np.float64)
                        for v, m in zip(vs, mask)
                        if m
                    ]
                )
                lid, cc, vn = _assign_rows(mat, centroids)
                out.loc[mask, "list_id"] = lid.astype(np.int32)
                out.loc[mask, "ccos"] = cc
                out.loc[mask, "vnb"] = pd.Series(
                    [row.tobytes() for row in vn], index=out.index[mask]
                )
            yield out

    return fn


def _dominated(
    m: np.ndarray, cc: np.ndarray, ids: np.ndarray, thr: float, flip: bool
) -> np.ndarray:
    """The SemDeDup dominance kernel over one cluster's unit rows ``m``:
    row a is dominated iff some other row b has ``m[a].m[b] >= thr``
    and is preferred — larger ``cc`` (smaller when ``flip``), ties by
    lower id. Blocked ``m @ m.T`` rows, so a cluster at the
    ``max_cluster`` cap stays ~80 MB of scratch, not O(c^2) resident
    (the allocation-storm lesson of ``_assign_rows``)."""
    n = len(m)
    dom = np.zeros(n, dtype=bool)
    ch = max(1, 10_000_000 // max(n, 1))
    for s0 in range(0, n, ch):
        e = min(s0 + ch, n)
        sims = m[s0:e] @ m.T
        bet = (cc[None, :] < cc[s0:e, None]) if flip else (cc[None, :] > cc[s0:e, None])
        bet |= (cc[None, :] == cc[s0:e, None]) & (ids[None, :] < ids[s0:e, None])
        bet[np.arange(e - s0), np.arange(s0, e)] = False
        dom[s0:e] = ((sims >= thr) & bet).any(axis=1)
    return dom


def _local_cluster_dups(
    capped: DataFrame, threshold: float, keep: str, vn_col: str = "vn"
) -> DataFrame:
    """Dominated ids per cluster via ONE applyInPandas pass of
    ``_dominated`` (unit vectors -> dot == cosine). ``vn_col="vnb"``
    reads the flat-binary unit vectors (one frombuffer per cluster,
    zero per-row conversion)."""
    from pyspark.sql.types import StructField, StructType

    out_t = StructType([StructField("id", capped.schema["id"].dataType)])
    flip = keep == "farthest"
    thr = float(threshold)
    binary_vn = vn_col == "vnb"

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf[vn_col].notna()]
        n = len(pdf)
        if n < 2:
            return pdf.iloc[0:0][["id"]]
        if binary_vn:
            m = np.frombuffer(b"".join(pdf[vn_col]), dtype=np.float64).reshape(
                n, -1
            )
        else:
            m = np.stack(
                pdf[vn_col].map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy()
            )
        ids = pdf["id"].to_numpy()
        cc = pdf["ccos"].to_numpy(dtype=np.float64)
        return pdf.loc[_dominated(m, cc, ids, thr, flip), ["id"]]

    return capped.groupBy("list_id").applyInPandas(f, out_t)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.92,
    n_lists: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 21,
    dim: int = 64,
    keep: str = "closest",
    max_cluster: int | None = 100_000,
    assign: str = "column",
    pairs: str = "join",
    centroids: np.ndarray | None = None,
    return_metrics: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a coarse quantizer, then
    inside each cluster drop every item that has a near-duplicate
    (cosine >= ``threshold``) which the keep rule prefers.

    Deterministic, fully SQL-expressible semantics:

    1. cluster = nearest pinned centroid (``pinned_centroids`` — data-
       independent literal directions, so assignment is pure Column
       math, no fit, no UDF; ties -> lowest list id);
    2. ``centroid_cos`` = cosine(vector, assigned centroid);
    3. item *a* is a DUPLICATE iff some *b* in the same cluster has
       cosine(a, b) >= threshold and *b* is preferred:
       ``keep="closest"``  -> b.centroid_cos > a.centroid_cos, ties by
       lower id; ``keep="farthest"`` (the paper's reported-best
       variant: keep semantic outliers) -> b.centroid_cos <
       a.centroid_cos, ties by lower id.

    The preference relation is a strict total order inside a dup
    group, so exactly the single most-preferred member of every
    near-dup clique survives — no CC pass needed.

    Returns (id, list_id, centroid_cos rounded to 6, kept). With
    ``return_metrics`` also returns the lazy cap-metrics frame.

    Scale shape: the 100 TB corpus shuffles ONCE on ``list_id`` for
    the self-join; pairwise work is sum(|cluster|^2), bounded by
    ``n_lists`` sizing (SemDeDup's published config uses ~sqrt(N)
    clusters precisely so clusters stay small) plus the explicit
    ``max_cluster`` cap with lazy drop metrics (``dedup._cap_buckets``
    — capped clusters keep all members, they just skip pair
    generation). Assignment is codegen (no k-means job): a data-FIT
    quantizer would add one bounded-sample fit like ``build_ivf_index``
    without changing this plan.

    ``assign="column"`` (default) is the oracle-exact literal-Column
    path — right for small ``n_lists``. ``assign="udf"`` computes
    (list_id, ccos, unit-normalized vector) in one chunked Arrow
    matmul per batch (``make_assign_ccos_udf``) so ``n_lists`` can be
    thousands — the sqrt(N)-clusters production shape.

    ``pairs="join"`` (default) evaluates the within-cluster dominance
    predicate as a JVM equi-join — oracle-exact arithmetic, and the
    only option for ``assign="column"``. ``pairs="local"`` (requires
    ``assign="udf"``) replaces the pair join with ONE
    groupBy(list_id).applyInPandas pass: per cluster, a blocked
    ``m @ m.T`` cosine matrix and a vectorized dominance reduction —
    the same single shuffle on list_id, but the quadratic inner loop
    runs as BLAS instead of per-pair interpreted array folds
    (measured 10.9x on the 1M-vector leg — 121.2 s vs 11.2 s,
    identical outputs; see BENCH/BASELINE.md).
    Pairwise dots differ from the fold path in the last ulp (BLAS
    summation order), so decisions exactly AT the threshold may
    differ — callers needing twin-exact arithmetic use "join".
    """
    if keep not in ("closest", "farthest"):
        raise ValueError(f"keep must be 'closest' or 'farthest', got {keep!r}")
    if assign not in ("column", "udf"):
        raise ValueError(f"assign must be 'column' or 'udf', got {assign!r}")
    if pairs not in ("join", "local"):
        raise ValueError(f"pairs must be 'join' or 'local', got {pairs!r}")
    if pairs == "local" and assign != "udf":
        raise ValueError("pairs='local' requires assign='udf' (needs vn)")
    from .dedup import _cap_buckets

    # data-adapted quantizer (kmeans_fit on a sample) plugs in via
    # ``centroids``; the pinned
    # data-independent default keeps the operator fit-free
    if centroids is not None:
        centroids = np.asarray(centroids, dtype=np.float64)
    else:
        centroids = pinned_centroids(n_lists, dim, seed)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    vn_col = "vn"
    pair_sim = None
    if assign == "udf":
        # scale path: one Arrow matmul per batch — n_lists can be
        # thousands (sqrt(N) clusters keeps the pair join near-linear);
        # the pure-Column path below is the oracle-exact small-k twin.
        # The frame is materialized across its consumers (cap sizes,
        # pair stage, output) — assignment computes ONCE.
        if pairs == "local":
            # r7: the local pair kernel consumes whole clusters, so the
            # unit vectors travel as flat binary (one frombuffer per
            # cluster) — same assignment arithmetic, far cheaper Arrow
            idt = base.schema["id"].dataType.simpleString()
            s = base.mapInPandas(
                _assign_ccos_vnb_batches(centroids),
                f"id {idt}, list_id int, ccos double, vnb binary",
            )
            vn_col = "vnb"
        else:
            ac = make_assign_ccos_udf(centroids)
            s = base.withColumn("_ac", ac(F.col("v"))).select(
                "id",
                F.col("_ac.list_id").alias("list_id"),
                F.col("_ac.ccos").alias("ccos"),
                F.col("_ac.vn").alias("vn"),
            )
            pair_sim = F.aggregate(
                F.zip_with(F.col("a.vn"), F.col("b.vn"), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        s, _ = materialize(s)
    else:
        cos_arr = F.array(
            *[cosine_col(F.col("v"), [float(x) for x in c]) for c in centroids]
        )
        s = base.withColumn(
            "list_id", ivf_assign_col(F.col("v"), centroids)
        ).withColumn("ccos", F.element_at(cos_arr, F.col("list_id") + 1))
        # oracle-exact pair arithmetic (dot / (|a| |b|)) — the DuckDB
        # twin restates it verbatim; no persist (cheap codegen frame)
        pair_sim = pairwise_cosine_col(F.col("a.v"), F.col("b.v"))
    capped, metrics = _cap_buckets(s, ["list_id"], max_cluster)
    a, b = capped.alias("a"), capped.alias("b")
    better = (
        (F.col("b.ccos") > F.col("a.ccos"))
        if keep == "closest"
        else (F.col("b.ccos") < F.col("a.ccos"))
    )
    if pairs == "local":
        dominated = _local_cluster_dups(capped, threshold, keep, vn_col)
    else:
        dominated = (
            a.join(
                b,
                (F.col("a.list_id") == F.col("b.list_id"))
                & (F.col("a.id") != F.col("b.id")),
            )
            .where(pair_sim >= F.lit(threshold))
            .where(
                better
                | (
                    (F.col("b.ccos") == F.col("a.ccos"))
                    & (F.col("b.id") < F.col("a.id"))
                )
            )
            .select(F.col("a.id").alias("id"))
            .distinct()
        )
    dup_flag = dominated.withColumn("_dup", F.lit(True))
    if assign == "udf":
        # the (small, dup-ids-only) frame is materialized so repeated
        # consumer actions don't re-run the pair stage (the dedup
        # computes at CALL time). When it ``fits``, broadcast it so the
        # kept-flag attach never shuffles the assignment frame — a
        # checkpointed frame has no size statistics, so Catalyst would
        # otherwise sort-merge.
        dominated, st = materialize(dominated)
        dup_flag = dominated.withColumn("_dup", F.lit(True))
        if fits(s.sparkSession, st["bytes"]):
            dup_flag = F.broadcast(dup_flag)
    out = (
        s.join(
            dup_flag,
            ["id"],
            "left",
        )
        .select(
            F.col("id").alias(id_col),
            "list_id",
            F.round("ccos", 6).alias("centroid_cos"),
            F.col("_dup").isNull().alias("kept"),
        )
    )
    return (out, metrics) if return_metrics else out


def semantic_dedup_incremental(
    new_df: DataFrame,
    index_path: str,
    threshold: float = 0.92,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep: str = "closest",
) -> DataFrame:
    """Incremental SemDeDup: dedup an INGEST BATCH against a corpus
    already materialized as an IVF index (``build_ivf_index`` layout:
    (id, v) partitioned by list_id + ``_centroids.json`` sidecar).

    Ingestion semantics: an existing corpus member ALWAYS wins — a new
    item is dropped if any indexed item in its cluster has cosine >=
    ``threshold``. Batch-internal near-dups then resolve by the
    standard keep rule (closest/farthest-to-centroid, ties by lower
    id). Returns (id_col, list_id, kept).

    Scale shape — the reason this exists as its own operator: the
    corpus side is read with an EXPLICIT partition filter on the
    batch's cluster set (collected from the batch — small), so a
    100 TB index contributes only the partitions the batch actually
    touches; the batch (small side) shuffles by list_id into a
    ``groupby.cogroup.applyInPandas`` where each cluster runs one
    blocked BLAS new-vs-existing similarity block plus the
    within-batch dominance reduction (the ``pairs="local"`` kernel).
    Nothing corpus-sized is ever re-clustered or re-compared.
    """
    import json
    import os

    if keep not in ("closest", "farthest"):
        raise ValueError(f"keep must be 'closest' or 'farthest', got {keep!r}")
    spark = new_df.sparkSession
    with open(os.path.join(index_path, "_centroids.json")) as f:
        centroids = np.asarray(json.load(f), dtype=np.float64)
    ac = make_assign_ccos_udf(centroids)
    # the batch (small side) is consumed three times (touched-cluster
    # collect, cogroup, null rows): the assignment computes ONCE
    batch, _ = materialize(
        new_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("_ac", ac(F.col("v")))
        .select(
            "id",
            F.col("_ac.list_id").alias("list_id"),
            F.col("_ac.ccos").alias("ccos"),
            F.col("_ac.vn").alias("vn"),
        )
    )
    touched = [
        int(r.list_id)
        for r in batch.select("list_id").where(F.col("list_id").isNotNull())
        .distinct().collect()
    ]
    # corpus side: ONLY the touched partitions are scanned (explicit
    # literal pruning — visible as PartitionFilters in the plan)
    corpus = (
        spark.read.parquet(index_path)
        .where(F.col("list_id").isin(touched))
        .select("list_id", F.col("v").alias("cv"))
    )
    flip = keep == "farthest"
    thr = float(threshold)
    from pyspark.sql.types import BooleanType, IntegerType, StructField, StructType

    out_t = StructType(
        [
            StructField("id", batch.schema["id"].dataType),
            StructField("list_id", IntegerType()),
            StructField("kept", BooleanType()),
        ]
    )

    def dedup_cluster(bpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        bpdf = bpdf[bpdf["vn"].notna()]
        nb = len(bpdf)
        if nb == 0:
            return pd.DataFrame({"id": [], "list_id": [], "kept": []}).astype(
                {"list_id": "int32", "kept": "bool"}
            )
        m = np.stack(bpdf["vn"].map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        dom = np.zeros(nb, dtype=bool)
        if len(cpdf):
            cm = np.stack(
                cpdf["cv"].map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy()
            )
            cm = cm / np.sqrt((cm**2).sum(axis=1, keepdims=True))
            ch = max(1, 10_000_000 // max(len(cpdf), 1))
            for s0 in range(0, nb, ch):
                e = min(s0 + ch, nb)
                dom[s0:e] = ((m[s0:e] @ cm.T) >= thr).any(axis=1)
        ids = bpdf["id"].to_numpy()
        cc = bpdf["ccos"].to_numpy(dtype=np.float64)
        # within-batch dominance among SURVIVORS of the corpus check
        # (a batch item killed by the corpus cannot save its twin)
        ai = np.flatnonzero(~dom)
        dom[ai] |= _dominated(m[ai], cc[ai], ids[ai], thr, flip)
        return pd.DataFrame(
            {
                "id": bpdf["id"].to_numpy(),
                "list_id": bpdf["list_id"].to_numpy().astype("int32"),
                "kept": ~dom,
            }
        )

    scored = (
        batch.where(F.col("list_id").isNotNull())
        .groupby("list_id")
        .cogroup(corpus.groupby("list_id"))
        .applyInPandas(lambda b, c: dedup_cluster(b, c), out_t)
    )
    # NULL-embedding rows: kept, NULL cluster (same contract as
    # semantic_dedup)
    nulls = batch.where(F.col("list_id").isNull()).select(
        "id", F.col("list_id").cast("int").alias("list_id"), F.lit(True).alias("kept")
    )
    out = scored.unionByName(nulls).select(
        F.col("id").alias(id_col), "list_id", "kept"
    )
    return out
