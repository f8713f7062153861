"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

Everything except the rolling-hash fingerprint is pure JVM column
algebra (codegen over the 100 TB side); the fingerprint is a vectorized
NumPy pandas UDF (winnowing-style min-hash over a rolling window).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..session import materialize

# tiny pinned stopword lists — heuristic n-gram/stopword language ID
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "nl": ["de", "het", "een", "en", "van", "ik", "dat", "die", "niet", "op"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "ich", "mit", "auf"],
    "fr": ["le", "la", "les", "et", "un", "une", "est", "que", "pour", "dans"],
}


def lang_id_col(text_col: str):
    """Heuristic language ID: argmax over stopword hit counts, fold
    tie-break (first language in alphabetical order wins ties) — the
    exact rule is mirrored by a CASE chain in the DuckDB oracle.

    Nested let-binding: the distinct-token array is computed once and
    the four stopword-hit counts once each; the naive CASE chain
    re-evaluates the split+distinct up to 7 times (see hof.let_col)."""
    from ..functions.hof import let_col

    langs = ("de", "en", "fr", "nl")

    def _scores(d):
        return F.array(
            *[
                F.size(
                    F.array_intersect(d, F.array(*[F.lit(w) for w in STOPWORDS[l]]))
                )
                for l in langs
            ]
        )

    def _case(sv):
        s = {lang: F.element_at(sv, i + 1) for i, lang in enumerate(langs)}
        return (
            F.when(s["nl"] > F.greatest(s["de"], s["en"], s["fr"]), F.lit("nl"))
            .when(s["fr"] > F.greatest(s["de"], s["en"]), F.lit("fr"))
            .when(s["en"] > s["de"], F.lit("en"))
            .otherwise(F.lit("de"))
        )

    dtk = F.array_distinct(F.split(F.col(text_col), " "))
    return let_col(dtk, lambda d: let_col(_scores(d), _case))


def quality_score_cols(text_col: str) -> dict[str, F.Column]:
    """Reference-style heuristic quality features + a composite score."""
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks).cast("double")
    n_chars = F.length(text_col).cast("double")
    mean_tok = (n_chars - (n_tokens - 1)) / n_tokens
    # alpha count via translate (delete all 52 letters, diff lengths):
    # a per-char table lookup instead of a regex engine pass — same
    # value for every input incl. NULL (r7, measured 1.33 s -> 0.85 s
    # per 1M-doc pass; this expression runs in EVERY funnel lineage
    # re-evaluation)
    import string as _string

    alpha_chars = F.length(text_col) - F.length(
        F.translate(
            F.col(text_col),
            _string.ascii_lowercase + _string.ascii_uppercase,
            "",
        )
    )
    alpha_ratio = alpha_chars / n_chars
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tokens

    # let-bind the four features: the composite CASE sum references
    # n_tokens/mean_tok twice each — naive form re-splits the text ~5x
    from ..functions.hof import let_col

    def _score(v):
        nt, mt, ar, dr = (F.element_at(v, i) for i in (1, 2, 3, 4))
        return (
            F.when((nt >= 50) & (nt <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
            + F.when((mt >= 3) & (mt <= 12), F.lit(0.3)).otherwise(F.lit(0.0))
            + F.when(ar >= 0.6, F.lit(0.2)).otherwise(F.lit(0.0))
            + F.when(dr >= 0.1, F.lit(0.1)).otherwise(F.lit(0.0))
        )

    score = let_col(
        F.array(n_tokens, mean_tok, alpha_ratio, distinct_ratio), _score
    )
    return {
        "n_tokens": F.size(toks).cast("long"),
        "mean_token_len": mean_tok,
        "alpha_ratio": alpha_ratio,
        "distinct_token_ratio": distinct_ratio,
        "quality_score": score,
    }


def token_count_col(text_col: str, mode: str = "whitespace"):
    """Token counting: whitespace or BPE-ish (regexp word/punct pieces)."""
    if mode == "whitespace":
        # == size(split(s, " ")) exactly (split keeps trailing empty
        # fields, so fields = spaces + 1; NULL propagates) without
        # building the token array — translate + two lengths (r7)
        return (
            F.length(text_col)
            - F.length(F.translate(F.col(text_col), " ", ""))
            + F.lit(1)
        ).cast("long")
    # BPE-ish: count word pieces + digits + punctuation separately
    pieces = F.regexp_extract_all(
        F.col(text_col), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0
    )
    return F.size(pieces).cast("long")


def _fingerprint_kernel(texts: pd.Series, window: int = 8) -> pd.Series:
    """Winnowing-style fingerprint: min rolling Rabin-Karp hash over
    token windows (documents sharing long runs collide). Fully
    vectorized: one batched FNV-64 over all tokens, then a
    sliding-window matmul per document (uint64 wraparound semantics)."""
    from numpy.lib.stride_tricks import sliding_window_view

    from .dedup import fnv1a64_vec

    B = np.uint64(1000003)
    out = np.zeros(len(texts), dtype=np.int64)
    token_lists = [t.split(" ") if t else [] for t in texts]
    lengths = np.fromiter((len(t) for t in token_lists), dtype=np.int64, count=len(token_lists))
    if lengths.sum() == 0:
        return pd.Series(out)
    flat = np.concatenate([np.array(t, dtype=object) for t in token_lists if t])
    all_hs = fnv1a64_vec(flat)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    powers = B ** np.arange(window - 1, -1, -1, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i in range(len(token_lists)):
            hs = all_hs[bounds[i] : bounds[i + 1]]
            if len(hs) == 0:
                continue
            if len(hs) < window:
                acc = np.uint64(0)
                for h in hs:
                    acc = acc * B + h
                out[i] = np.int64(acc.astype(np.int64))
                continue
            mat = sliding_window_view(hs, window)
            accs = mat @ powers  # uint64 wraparound (C semantics)
            out[i] = np.int64(accs.min().astype(np.int64))
    return pd.Series(out)


fingerprint_udf = F.pandas_udf(lambda s: _fingerprint_kernel(s), LongType())

# portable fingerprint domain: acc,h < 2^43 keeps (acc*B + h) < 2^63,
# so ANSI long math never overflows and DuckDB BIGINT agrees exactly
FP_BASE = 1000003
FP_MOD_BITS = 43


def fingerprint_col(text_col: str, window: int = 8):
    """Engine-PORTABLE rolling-hash fingerprint as pure JVM HOFs (zero
    Python): token hash = md5-60bit % 2^43, Rabin-Karp fold
    (acc*B + h) % 2^43 over each ``window``-token run, min over runs
    (documents shorter than the window fold their full run). The
    oracle-exact contract twin of the uint64 NumPy fast path
    (fingerprint_udf); same winnowing semantics, smaller hash domain."""
    from ..functions.hof import let_col

    # power-of-two modulus over non-negative operands: pmod == bitwise
    # AND with (mod-1), bit-for-bit (r7 — one AND instead of a division
    # per token and per fold step)
    mask = F.lit((1 << FP_MOD_BITS) - 1)
    toks = F.split(F.col(text_col), " ")
    hs = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
        .cast("long")
        .bitwiseAND(mask),
    )

    def _roll(run):
        return F.aggregate(
            run,
            F.lit(0).cast("long"),
            lambda acc, h: (acc * F.lit(FP_BASE) + h).bitwiseAND(mask),
        )

    # let-bind hs: the per-window slices and the size() bound would
    # otherwise re-run the md5 token hashing once per window
    def _min_window(hsv):
        runs = F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(hsv) - F.lit(window - 1), F.lit(1))
            ),
            lambda i: _roll(F.slice(hsv, i, window)),
        )
        return F.array_min(runs)

    return let_col(hs, _min_window)


def analyze_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_input_cols: bool = False,
) -> DataFrame:
    """Per-document analysis columns (lang-ID, BPE-ish token counts,
    quality score, fingerprint). ``keep_input_cols=True`` appends the
    derived columns to the input row instead of projecting it away
    (for pipelines that filter then continue with the original text —
    a pure projection either way, no shuffle)."""
    base = [F.col("*")] if keep_input_cols else [F.col(id_col)]
    return df.select(
        *base, *(c.alias(k) for k, c in analysis_cols(text_col).items())
    )


def analysis_cols(text_col: str) -> dict:
    """``analyze_documents``' derived columns by name, in its output
    order. Each is a per-row function of ``text_col`` alone, so a
    caller may attach any of them to any subset of the rows later."""
    cols = quality_score_cols(text_col)
    return {
        "lang_pred": lang_id_col(text_col),
        "n_tokens": cols["n_tokens"],
        "n_bpe_pieces": token_count_col(text_col, "bpe"),
        "mean_token_len": F.round(cols["mean_token_len"], 6),
        "alpha_ratio": F.round(cols["alpha_ratio"], 6),
        "distinct_token_ratio": F.round(cols["distinct_token_ratio"], 6),
        "quality_score": F.round(cols["quality_score"], 6),
        "fingerprint": fingerprint_udf(F.col(text_col)),
    }


# ------------------------------------------------------------------
# benchmark decontamination (training-data hygiene — the
# Dolma/GPT-style curation stage a 100 TB text pipeline runs
# between quality filtering and dedup; engine addendum, no reference
# analog)
# ------------------------------------------------------------------
def _shingle_hashes(text_col: str, n: int):
    """Distinct xxhash64 hashes of the n-gram shingle STRINGS (exact
    shingle identity — decontamination must not tolerate the tokenmix
    truncation trade; collision probability 2^-64 per pair)."""
    from ..operators.dedup import shingles_col

    return F.transform(shingles_col(text_col, n), lambda s: F.xxhash64(s))


def contaminated_ids(
    docs: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Docs sharing ANY n-gram (default 13 — the published GPT-3/PaLM
    decontamination window) with the blocklist corpus -> (id, n_hits).

    Explodes doc shingle hashes and LEFT SEMI shuffle-joins them against
    the blocklist hash set — 18.5 s per 1M docs vs a 1,000-doc
    blocklist at local[32], and no blocklist size limit.
    Collision note: both sides use the same xxhash64 shingle hash, so
    real overlaps are NEVER missed; a 2^-64 hash collision can only
    add a spurious (conservative) drop."""
    doc_h = docs.select(
        F.col(id_col).alias("id"), _shingle_hashes(text_col, n).alias("hs")
    )
    blk_h = blocklist.select(
        F.explode(_shingle_hashes(block_text_col, n)).alias("h")
    ).distinct()
    hits = (
        doc_h.select("id", F.explode("hs").alias("h"))
        .join(blk_h, "h", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return hits.select(F.col("id").alias(id_col), "n_hits")


def decontaminate(
    docs: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Drop every doc sharing an n-gram with the blocklist (anti-join
    on the contaminated id set). No forced broadcast: hit sets are
    usually tiny and AQE will broadcast them on its own, but a
    blocklist overlapping boilerplate shared by a large fraction of
    the corpus can make the hit set corpus-sized — a forced broadcast
    would then die on the driver where a shuffled anti-join
    succeeds."""
    bad = contaminated_ids(
        docs, blocklist, text_col=text_col, id_col=id_col, n=n
    ).select(id_col)
    return docs.join(bad, id_col, "left_anti")


# ------------------------------------------------------------------
# n-gram language-model perplexity scoring (CCNet-style quality signal:
# score each doc by a bigram LM trained on a reference corpus; engine
# addendum, no reference analog)
# ------------------------------------------------------------------
def train_bigram_lm(
    corpus: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """-> (unigram counts (w, c1), bigram counts (w1, w2, c2), vocab
    size as a LAZY 1-row frame (V)). Pure explode + groupBy counts —
    the model tables are vocabulary-sized (small next to any corpus)
    and broadcast at scoring time. Nothing here fires a job: V is a
    1-row aggregate that ``score_bigram_logprob`` broadcast-crossJoins
    into the scoring plan (the highway_rollup pattern), so training is
    declared, not executed, until the scored frame is acted on."""
    toks = corpus.select(F.split(F.col(text_col), " ").alias("tk"))
    uni = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bi = (
        toks.select(
            F.explode(
                F.arrays_zip(
                    F.slice("tk", 1, F.greatest(F.size("tk") - 1, F.lit(0))),
                    F.slice("tk", 2, F.greatest(F.size("tk") - 1, F.lit(0))),
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    v = uni.agg(F.count(F.lit(1)).alias("_V"))
    return uni, bi, v


def score_bigram_logprob(
    docs: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    vocab_size: DataFrame | int,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 1.0,
) -> DataFrame:
    """Per-doc mean add-k-smoothed bigram log-probability (the higher,
    the more in-domain — the CCNet quality axis):

        logP(w2 | w1) = log((c2(w1,w2) + k) / (c1(w1) + k*V))

    with c2=0 / c1=0 for pairs or contexts unseen in training. Docs
    explode to bigram rows, LEFT-join the two broadcast count tables
    (vocabulary-sized), aggregate mean — the corpus shuffles once on
    the groupBy, counts never shuffle.

    ``vocab_size`` is either the lazy 1-row frame ``train_bigram_lm``
    returns (broadcast-crossJoined so the whole train+score pipeline
    stays one unexecuted plan) or a precomputed int.

    Docs with fewer than 2 tokens have no bigrams and are ABSENT from
    the output (callers left-join and decide a default — an unscorable
    doc is not a bad doc)."""
    pairs = docs.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("tk")
    ).select(
        "id",
        F.explode(
            F.arrays_zip(
                F.slice("tk", 1, F.greatest(F.size("tk") - 1, F.lit(0))),
                F.slice("tk", 2, F.greatest(F.size("tk") - 1, F.lit(0))),
            )
        ).alias("p"),
    ).select("id", F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
    if isinstance(vocab_size, DataFrame):
        # lazy V: a broadcast 1-row crossJoin keeps train+score a
        # single unexecuted plan (no driver-side count at build time)
        pairs = pairs.crossJoin(F.broadcast(vocab_size))
        v_col = F.col("_V").cast("double")
        drop_v = ["_V"]
    else:
        v_col = F.lit(float(vocab_size))
        drop_v = []
    j = (
        pairs.join(F.broadcast(bi), ["w1", "w2"], "left")
        .join(F.broadcast(uni.withColumnRenamed("w", "w1")), ["w1"], "left")
        .withColumn(
            "lp",
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(float(k)))
                / (
                    F.coalesce(F.col("c1"), F.lit(0))
                    + F.lit(float(k)) * v_col
                )
            ),
        )
        .drop(*drop_v)
    )
    return j.groupBy("id").agg(
        F.avg("lp").alias("mean_logprob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    ).select(F.col("id").alias(id_col), "mean_logprob", "n_bigrams")


# ------------------------------------------------------------------
# Repetition quality signals (Gopher/MassiveText-style) and corpus-
# level paragraph dedup (RefinedWeb-style). Engine addendum — the
# reference has no corpus-curation layer; these are the two standard
# stages between heuristic quality filtering and document-level dedup
# in published web-text pipelines.
# ------------------------------------------------------------------
def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3, 4),
) -> DataFrame:
    """Per-doc repetition features (the Gopher repetition-filter axes):

    - ``dup_line_frac``      = (n_lines - n_distinct_lines) / n_lines
    - ``dup_line_char_frac`` = chars in duplicate line INSTANCES
      (occurrences beyond each line's first) / total line chars
    - ``top{n}gram_char_frac`` for n in ``top_ns`` = max over token
      n-grams occurring >= 2 times of count*len(gram) / doc chars
      (0.0 when nothing repeats — a single occurrence is not
      repetition).

    Physical shape: ZERO shuffle — every feature is per-document, so
    nothing ever leaves its input row. Both the duplicate-line-char
    sum and the n-gram coverage are per-row sorted-run scans: build
    the array, ``array_sort`` it (identical elements become adjacent),
    then one ``F.aggregate`` pass — O(L log L) per doc in the doc's
    own line/gram count, so a pathological 100k-line document stays
    linearithmic inside its task. The previous shape (explode ->
    count shuffle -> per-doc max shuffle -> join back) moved every
    gram STRING through two exchanges; measured at 1M docs the scan is
    the difference between a map-only stage and the suite's slowest
    curation leg (BENCH/BASELINE.md "Curation operators at 1M docs").
    At 100 TB the worst row is the largest single document — the same
    bound the shuffle shape had on its hottest (doc, gram) key, minus
    the two corpus-wide exchanges."""
    from ..functions.hof import let_col

    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    dup_line_frac = (n_lines - F.size(F.array_distinct(lines))).cast(
        "double"
    ) / n_lines
    line_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda a, l: a + F.length(l)
    )
    # duplicate-instance chars via the SAME sorted-run scan the gram
    # coverage uses: after array_sort identical lines are adjacent, so
    # every element equal to its predecessor IS an instance beyond the
    # first — one O(L log L) pass. (The previous shape ran F.filter
    # over the full line array once per DISTINCT line: O(distinct x
    # total) interpreted HOF work inside one row — a 100k-line web
    # dump document would be ~10^10 comparisons in a single task with
    # no skew escape. See tests' planted adversarial doc.)
    dup_chars = F.aggregate(
        F.array_sort(lines),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("tot"),
        ),
        lambda acc, l: F.struct(
            l.alias("prev"),
            (
                acc["tot"]
                # NULL prev (first element) compares NULL -> otherwise 0
                + F.when(l == acc["prev"], F.length(l).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            ).alias("tot"),
        ),
        lambda acc: acc["tot"],
    )
    tk = F.split(F.col(text_col), " ")

    def _cov(n: int):
        # sequence(1, stop) DESCENDS when stop < 1 — guard short docs
        # with a typed empty array instead
        idx = F.sequence(F.lit(1), F.size(tk) - F.lit(n - 1))
        mk = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, n)))
        grams = F.when(F.size(tk) >= n, mk).otherwise(
            F.array().cast("array<string>")
        )
        # sorted-run scan: identical grams are adjacent after the sort,
        # so one pass tracks (prev gram, run length, best count*len).
        # run==1 contributes nothing — a single occurrence is not
        # repetition. The greatest() sees every prefix of a run, so the
        # run's final (full-count) candidate always lands in `best`.
        return F.aggregate(
            F.array_sort(grams),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(1).alias("run"),
                F.lit(0).cast("long").alias("best"),
            ),
            lambda acc, g: let_col(
                # NULL prev (first element) compares NULL -> otherwise(1)
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                lambda run: F.struct(
                    g.alias("prev"),
                    run.alias("run"),
                    F.greatest(
                        acc["best"],
                        F.when(
                            run >= 2, run.cast("long") * F.length(g)
                        ).otherwise(F.lit(0).cast("long")),
                    ).alias("best"),
                ),
            ),
            lambda acc: acc["best"],
        )

    out = df.select(
        F.col(id_col),
        F.length(text_col).alias("_n_chars"),
        n_lines.alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
        F.when(line_chars > 0, dup_chars.cast("double") / line_chars)
        .otherwise(F.lit(0.0))
        .alias("dup_line_char_frac"),
        *[_cov(n).alias(f"_cov{n}") for n in top_ns],
    )
    for n in top_ns:
        out = out.withColumn(
            f"top{n}gram_char_frac",
            F.when(
                F.col("_n_chars") > 0,
                F.col(f"_cov{n}").cast("double") / F.col("_n_chars"),
            ).otherwise(F.lit(0.0)),
        )
    return out.drop("_n_chars", *[f"_cov{n}" for n in top_ns])


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    max_docs: int = 1,
    min_chars: int = 0,
) -> DataFrame:
    """Corpus-level exact paragraph dedup (RefinedWeb-style boilerplate
    removal): every paragraph (split on ``sep``) appearing in MORE than
    ``max_docs`` distinct documents is removed from every document; the
    survivors are re-joined in original order. Paragraphs shorter than
    ``min_chars`` are never removed (protect headings when desired).

    -> (id_col, text_deduped, n_paras, n_removed) — one row per input
    doc, including docs whose every paragraph was boilerplate
    (text_deduped = '').

    Physical shape: posexplode -> the common-paragraph set is a
    groupBy on md5(paragraph) counting DISTINCT docs (the 128-bit
    digest is the shuffle key, so long paragraphs never shuffle twice;
    same digest-as-key contract as dedup.exact_dedup) -> left-anti
    join paragraphs against it (AQE broadcasts the usually-small
    common set; unforced, so a degenerate corpus where most paragraphs
    are boilerplate still shuffles instead of dying on the driver) ->
    per-doc array_sort(collect_list(struct(pos, para))) rebuild. No
    all-pairs anywhere; skew bound = the most duplicated paragraph's
    doc count, which the distinct-count agg reduces map-side."""
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).withColumn("pk", F.md5("para"))
    common = (
        paras.where(F.length("para") >= min_chars)
        .groupBy("pk")
        .agg(F.count_distinct("id").alias("n_docs"))
        .where(F.col("n_docs") > max_docs)
        .select("pk")
    )
    kept = paras.join(common, "pk", "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text_deduped"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = paras.groupBy("id").agg(F.count(F.lit(1)).alias("n_paras"))
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
            "n_paras",
            (F.col("n_paras") - F.coalesce("_n_kept", F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def contamination_overlap(
    docs: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Per-doc contamination RATE — the graded companion to the boolean
    ``contaminated_ids``: (id_col, n_shingles, n_hit, overlap_frac)
    for EVERY doc, where overlap_frac = fraction of the doc's distinct
    token n-grams present in the blocklist (0.0 for clean docs and for
    docs too short to shingle). Pipelines that drop on ANY hit use
    ``decontaminate``; threshold policies (e.g. drop when >10% of a
    short doc is benchmark text) read this frame.

    Same xxhash64 shingle-hash contract as the other decontamination
    paths; the blocklist side is a distinct hash set LEFT-joined
    unforced (AQE broadcasts real-world blocklists on its own)."""
    # NULL text -> NULL shingle array (shingles_col alone would emit a
    # single empty-string shingle there: greatest(NULL,1) -> window 1,
    # concat_ws over a NULL array -> ''), so explode_outer keeps the
    # doc with n_shingles = 0 — "unshingleable, therefore clean"
    doc_h = docs.select(
        F.col(id_col).alias("id"),
        F.when(
            F.col(text_col).isNotNull(), _shingle_hashes(text_col, n)
        ).alias("hs"),
    )
    blk = (
        blocklist.select(F.explode(_shingle_hashes(block_text_col, n)).alias("h"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    ex = doc_h.select("id", F.explode_outer("hs").alias("h"))
    agg = (
        ex.join(blk, "h", "left")
        .groupBy("id")
        .agg(
            F.count("h").alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hit"),
        )
    )
    return agg.select(
        F.col("id").alias(id_col),
        "n_shingles",
        "n_hit",
        F.when(
            F.col("n_shingles") > 0,
            F.col("n_hit").cast("double") / F.col("n_shingles"),
        )
        .otherwise(F.lit(0.0))
        .alias("overlap_frac"),
    )


_CHUNK_PACK = 2**31  # packed (doc_id, pos) canonical key — pos < 2^31


def _drop_repeated_units(
    df: DataFrame, id_col: str, units: F.Column, eligible=None
) -> tuple[DataFrame, F.Column]:
    """The repeated-unit dedup core shared by ``chunk_dedup``,
    ``chunk_dedup_cdc`` and ``span_dedup_c4``: ``units`` is a per-row
    array<string> of a doc's units (chunks, spans); every unit whose
    content occurs more than once in the corpus (across docs OR within
    one doc) is killed in every occurrence EXCEPT the globally-first
    one (min packed (doc_id, pos)). ``eligible(unit)`` restricts which
    units may dedup at all. -> (``df`` left-joined with its per-doc
    ``_kill`` position set and ``n_removed``, the doc's kept units as a
    Column over that frame).

    Physical shape: posexplode -> ONE groupBy on md5(unit) (the 128-bit
    digest is the shuffle key, long units never shuffle twice; instance
    count + packed-min canonical in the same aggregate) -> inner join
    back (AQE broadcasts the usually-small duplicated set) -> per-doc
    kill-position sets -> the caller's rebuild is a per-row codegen HOF
    (re-derive the unit array, two-arg ``F.filter`` drops killed
    indices) — the text itself never shuffles for the rebuild. Skew
    bound = the most duplicated unit's occurrence count, reduced
    map-side by the partial aggregate. ``id_col`` must be integral and
    fit 32 bits, and a doc must hold under 2^31 units, for the packed
    key."""
    from pyspark.sql import types as T

    # a string id would implicitly cast to double -> NULL, making _canon
    # NULL and the != filter drop every kill (silent no-op). Fail fast.
    id_type = df.schema[id_col].dataType
    if not isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise TypeError(
            f"repeated-unit dedup needs an integral {id_col!r} (fits 32 "
            f"bits) for its packed (id, pos) canonical key; got {id_type}"
        )
    ex = df.select(
        F.col(id_col).alias("id"), F.posexplode(units).alias("pos", "u")
    )
    if eligible is not None:
        ex = ex.where(eligible(F.col("u")))
    ex = ex.select("id", "pos", F.md5("u").alias("uk"))
    packed = F.col("id") * F.lit(_CHUNK_PACK) + F.col("pos")
    dup = (
        ex.groupBy("uk")
        .agg(F.count(F.lit(1)).alias("_n"), F.min(packed).alias("_canon"))
        .where(F.col("_n") > 1)
        .select("uk", "_canon")
    )
    kills = (
        ex.join(dup, "uk", "inner")
        .where(packed != F.col("_canon"))
        .groupBy("id")
        .agg(F.collect_set("pos").alias("_kill"))
    )
    joined = df.join(kills, F.col(id_col) == F.col("id"), "left").withColumn(
        "n_removed", F.coalesce(F.size("_kill"), F.lit(0)).cast("long")
    )
    kept = F.filter(
        units,
        lambda u, i: ~F.array_contains(
            F.coalesce(F.col("_kill"), F.array().cast("array<int>")), i
        ),
    )
    return joined, kept


def chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_chars: int = 100,
) -> DataFrame:
    """Corpus-level exact SUBSTRING dedup, bounded to non-overlapping
    ``chunk_chars``-character windows (the RETRO-chunk approximation of
    Lee et al.'s suffix-array dedup — the published family the
    paragraph/MinHash/SimHash suite doesn't cover): every L-char chunk
    whose content occurs more than once in the corpus (across docs OR
    repeated within one doc) is removed from every occurrence EXCEPT
    the globally-first one (min packed (doc_id, position)); the doc's
    trailing ``len % L`` characters are never hashed or removed.

    -> (id_col, text_deduped, n_chunks, n_removed) — one row per input
    doc (NULL text stays NULL; docs shorter than one chunk pass
    through whole). Plan: ``_drop_repeated_units``; docs must stay
    under 2^31 chars for its packed key (raise chunk_chars for huge
    docs)."""
    L = int(chunk_chars)
    if L < 1:
        raise ValueError("chunk_chars must be >= 1")
    # chunk i covers [i*L, (i+1)*L); the trailing len % L chars are
    # protected (recall boundary: BENCH/BASELINE.md, "chunk_dedup
    # grid-alignment recall")
    n_full = F.floor(F.length(text_col) / F.lit(L))
    idx = F.sequence(F.lit(0).cast("long"), n_full - 1)
    mk = F.transform(
        idx,
        lambda i: F.col(text_col).substr((i * F.lit(L) + 1).cast("int"), F.lit(L)),
    )
    # sequence(0, stop) DESCENDS when stop < 0 — guard short docs
    chunks = F.when(n_full >= 1, mk).otherwise(F.array().cast("array<string>"))
    joined, kept = _drop_repeated_units(df, id_col, chunks)
    tail = F.col(text_col).substr(
        (n_full * F.lit(L) + 1).cast("int"), F.length(text_col)
    )
    return joined.select(
        F.col(id_col),
        F.concat(F.array_join(kept, ""), tail).alias("text_deduped"),
        F.coalesce(n_full, F.lit(0)).cast("long").alias("n_chunks"),
        "n_removed",
    )


def chunk_dedup_cdc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    avg_tokens: int = 8,
    min_tokens: int = 4,
) -> DataFrame:
    """Content-defined-chunking substring dedup — the ALIGNMENT-FREE
    variant of ``chunk_dedup`` (the rsync/storage-dedup CDC trick
    applied at token level): a chunk boundary falls AFTER every token
    whose portable hash lands in bucket 0 of ``avg_tokens`` buckets,
    so boundaries derive from CONTENT, not position — two instances of
    the same passage produce identical interior chunks no matter where
    in their documents they sit. This closes the grid method's phase
    boundary (a fixed grid only matches repeats whose start offsets
    agree mod L; measured in BENCH/BASELINE.md "chunk_dedup
    grid-alignment recall").

    Semantics: chunks shorter than ``min_tokens`` tokens never dedup
    (guards against killing ubiquitous single-token chunks); among the
    instances of a >=2-occurrence eligible chunk the packed-min
    (id, pos) canonical survives; rebuild joins kept chunks with a
    single space (texts are single-space tokenized — multi-space runs
    are not preserved, same normalization the token ops assume). NULL
    text stays NULL.

    Plan: ``_drop_repeated_units`` over per-row codegen chunk arrays.
    Average chunk = ``avg_tokens`` tokens; worst doc cost is linear in
    its tokens."""
    D = int(avg_tokens)
    if D < 2:
        raise ValueError("avg_tokens must be >= 2")
    tk = F.split(F.col(text_col), " ")
    n = F.size(tk)

    def _is_cut(t):
        return (
            F.pmod(
                F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
                F.lit(D),
            )
            == 0
        )

    cuts = F.filter(F.sequence(F.lit(1), n), lambda i: _is_cut(F.element_at(tk, i)))
    starts = F.concat(F.array(F.lit(1)), F.transform(cuts, lambda c: c + 1))
    ends = F.concat(cuts, F.array(n))
    chunks = F.filter(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.when(e >= s, F.concat_ws(" ", F.slice(tk, s, e - s + 1))),
        ),
        lambda c: c.isNotNull(),
    )
    joined, kept = _drop_repeated_units(
        df,
        id_col,
        chunks,
        eligible=lambda c: F.size(F.split(c, " ")) >= min_tokens,
    )
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("text_deduped"),
        F.coalesce(F.size(chunks), F.lit(0)).cast("long").alias("n_chunks"),
        "n_removed",
    )


# ------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, arXiv:2302.03169):
# hashed n-gram bucket features, bag-of-buckets bigram-ish language
# models over a TARGET (in-domain) and a RAW corpus, per-doc importance
# weight = sum over feature instances of log p_target(b) - log p_raw(b),
# then deterministic top-n selection. The published method selects raw
# web documents whose hashed-n-gram profile looks like the target
# domain — the standard data-selection stage next to quality filtering.
# ------------------------------------------------------------------
DSIR_BUCKETS = 10_000


def hashed_ngram_buckets_col(text_col: str, n_buckets: int = DSIR_BUCKETS):
    """Array of hashed unigram+bigram feature buckets for a doc (with
    multiplicity — DSIR's feature vector counts instances). Pure
    codegen, portable arithmetic: bucket = int(md5(gram)[0:15 hex]) %
    n_buckets, the same md5-prefix hash every other portable op in
    this engine uses, so a DuckDB twin restates it verbatim.
    Bigram gram string = "w1 w2". Empty text contributes the single
    empty-string unigram (deterministic; callers gate on quality
    first); NULL text -> NULL array (absent after explode)."""

    def _bucket(g):
        return F.pmod(
            F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
            F.lit(int(n_buckets)),
        )

    tk = F.split(F.col(text_col), " ")
    uni = F.transform(tk, _bucket)
    n_bi = F.greatest(F.size(tk) - 1, F.lit(0))
    bi = F.zip_with(
        F.slice(tk, 1, n_bi),
        F.slice(tk, 2, n_bi),
        lambda w1, w2: _bucket(F.concat_ws(" ", w1, w2)),
    )
    return F.concat(uni, bi)


def _bucket_counts(frame: DataFrame, n_buckets: int) -> np.ndarray:
    """Exact instance count per bucket of ``frame``'s ``_bs`` bucket
    arrays, as one int64 vector of ``n_buckets`` on the driver.
    Vectorized partial counts (guide §4.2): one np.bincount per Arrow
    batch and ONE partial of at most ``n_buckets`` rows per task
    instead of a 79M-row Generate + per-row hash aggregate (measured
    8.2 s -> 2.3 s net at 1M docs x ~79 features). Integer counts, so
    bit-identical to an explode + groupBy."""
    from typing import Iterator

    def _bincount(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros(n_buckets, dtype=np.int64)
        for pdf in it:
            if len(pdf):
                flat = np.concatenate(
                    [np.asarray(a, dtype=np.int64) for a in pdf["_bs"]]
                )
                acc += np.bincount(flat, minlength=n_buckets)
        nz = np.flatnonzero(acc)
        if nz.size:
            yield pd.DataFrame({"b": nz, "c": acc[nz]})

    counts = np.zeros(n_buckets, dtype=np.int64)
    parts = frame.select("_bs").mapInPandas(_bincount, "b long, c long")
    for r in parts.groupBy("b").agg(F.sum("c").alias("c")).collect():
        counts[r.b] = r.c
    return counts


def dsir_score(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
    k: float = 1.0,
) -> DataFrame:
    """Per-doc DSIR log importance weight:

        w(doc) = sum over hashed-gram instances b of
                 log((ct(b)+k)/(Tt+k*B)) - log((cr(b)+k)/(Tr+k*B))

    where (ct, Tt) count the TARGET corpus and (cr, Tr) the raw pool,
    which is ``docs`` itself (the published setup). Higher = more
    target-like. Smoothing ``k`` handles unseen buckets exactly like
    the bigram LM's add-k.

    -> (id_col, dsir_logweight, n_feats). NULL-text docs have no
    features and are ABSENT (callers left-join and decide — same
    contract as score_bigram_logprob).

    ``n_buckets`` must lie in [1, 2^22]: both count vectors are
    collected to the driver and the weight table travels as one array
    cell, so the bucket space bounds what the driver holds.

    Scale shape (guide §2.3/§2.4 "shuffle keys, not payloads" + §3.1
    broadcast): the per-bucket log-ratio depends only on the bucket id,
    so the whole weight table is ``n_buckets`` doubles. The pool's
    bucket arrays are computed ONCE (materialized across the count pass
    and the scoring pass — the md5 feature hashing is the dominant
    cost), both corpora are counted by ``_bucket_counts``, the ``lw``
    table is computed IN the JVM via ``F.log`` and shipped back as ONE
    array literal; scoring is then a map-only ``aggregate`` over each
    doc's bucket array in array order — no explode, no per-doc shuffle
    (plan: zero Exchange on the corpus side). Compute happens at call
    time (the knn_snap precedent).
    """
    nb = int(n_buckets)
    if not 1 <= nb <= 1 << 22:
        raise ValueError(f"n_buckets must be in [1, 2**22], got {n_buckets}")
    spark = docs.sparkSession
    # buckets < n_buckets fit int32: halve the materialized array and
    # Arrow bytes (guide §2.3 narrower types)
    bs_col = F.transform(
        hashed_ngram_buckets_col(text_col, nb), lambda b: b.cast("int")
    ).alias("_bs")
    # both the count pass and the scoring pass read it, so the md5
    # feature hashing runs once
    bs_frame, _ = materialize(
        docs.where(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"), bs_col
        )
    )
    ct = _bucket_counts(target.where(F.col(text_col).isNotNull()).select(bs_col), nb)
    cr = _bucket_counts(bs_frame, nb)
    counts = spark.createDataFrame(
        pd.DataFrame({"b": np.arange(nb, dtype=np.int64), "ct": ct, "cr": cr})
    )
    kB = F.lit(float(k)) * F.lit(float(nb))
    # the whole weight table as ONE b-ordered array in a 1-row frame,
    # broadcast into the scoring projection. It never leaves the JVM
    # (a 10k-double Python literal costs seconds of py4j round trips)
    # and the doubles come from the same F.log codegen as the old
    # per-row expression — bit-identical.
    lw_one_row = counts.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("b"),
                        (
                            F.log(
                                (F.col("ct") + F.lit(float(k)))
                                / (F.lit(int(ct.sum())).cast("double") + kB)
                            )
                            - F.log(
                                (F.col("cr") + F.lit(float(k)))
                                / (F.lit(int(cr.sum())).cast("double") + kB)
                            )
                        ).alias("lw"),
                    )
                )
            ),
            lambda s: s["lw"],
        ).alias("_lw")
    )
    # scoring is a pure projection over the materialized bucket arrays
    # — no further materialization needed (consumers read the blocks)
    return bs_frame.crossJoin(F.broadcast(lw_one_row)).select(
        F.col("id").alias(id_col),
        F.round(
            F.aggregate(
                F.transform(
                    "_bs",
                    lambda b: F.element_at(
                        F.col("_lw"), b.cast("int") + F.lit(1)
                    ),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("dsir_logweight"),
        F.size("_bs").cast("long").alias("n_feats"),
    )


def dsir_select(
    docs: DataFrame,
    target: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
    k: float = 1.0,
) -> DataFrame:
    """Keep the ``n`` most target-like docs by DSIR weight
    (deterministic rank: weight desc, id asc — the top-n variant of
    the paper's Gumbel resampling; unscored NULL-text docs never
    selected). Returns the full doc rows plus ``dsir_logweight``.
    The top-n is a TakeOrderedAndProject over the scored frame (no
    full sort); at 100 TB-scale n one would threshold on an
    approx-quantile cut instead — same scored frame, filter not sort.
    """
    scored = dsir_score(docs, target, text_col, id_col, n_buckets, k)
    top = (
        scored.orderBy(F.desc("dsir_logweight"), F.asc(id_col))
        .limit(int(n))
        .select(id_col, "dsir_logweight")
    )
    # n rows by construction — broadcast so the corpus is never
    # shuffled for the attach (guide §3.1; size estimates after a
    # limit are unreliable, hint explicitly)
    return docs.join(F.broadcast(top), [id_col])


# ------------------------------------------------------------------
# fastText-style quality classifier (the GPT-3/LLaMA-pipeline "looks
# like reference text" gate): logistic regression over the SAME
# hashed unigram+bigram buckets DSIR uses, length-normalized.
# Training is driver-side on a BOUNDED labeled sample (published
# pipelines train on ~1e5 labeled docs — quantizer-fit territory, the
# kmeans_fit precedent); SCORING is the 100 TB path: explode +
# broadcast weight join + one per-doc-sum shuffle, exactly the
# dsir_score plan.
# ------------------------------------------------------------------
def train_quality_classifier(
    pos_texts: list[str],
    neg_texts: list[str],
    n_buckets: int = 4096,
    iters: int = 200,
    lr: float = 2.0,
    l2: float = 1e-4,
) -> tuple[np.ndarray, float]:
    """Driver-side logistic regression -> (bucket weights (B,), bias).
    Deterministic full-batch gradient descent in NumPy over the
    length-normalized hashed-gram count matrix; inputs are BOUNDED
    labeled lists (the published setup: a reference corpus vs a random
    raw sample — collect each with ``.limit(n)``). Hash arithmetic is
    byte-identical to ``hashed_ngram_buckets_col`` (md5-prefix), so
    driver-trained weights apply verbatim in the distributed scorer.
    """
    import hashlib

    def feats(text: str) -> np.ndarray:
        x = np.zeros(n_buckets)
        toks = text.split(" ")
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        for g in grams:
            x[int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % n_buckets] += 1.0
        return x / len(grams)

    X = np.stack([feats(t) for t in pos_texts + neg_texts])
    y = np.concatenate([np.ones(len(pos_texts)), np.zeros(len(neg_texts))])
    w = np.zeros(n_buckets)
    b = 0.0
    n = len(y)
    for _ in range(int(iters)):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        r = p - y
        w -= lr * ((X.T @ r) / n + l2 * w)
        b -= lr * float(r.mean())
    return w, b


def score_quality_classifier(
    docs: DataFrame,
    weights: np.ndarray,
    bias: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributed scoring: P(reference-like) per doc.

    -> (id_col, clf_prob). NULL-text docs are ABSENT (callers
    left-join and decide, the LM-filter contract). The margin is an FP
    sum whose order Spark does not fix — probabilities are rounded
    to 6.

    r7 (the dsir_score restructure applied here too): the per-bucket
    weight depends only on the bucket id, so the whole table rides in
    as ONE b-ordered array in a 1-row broadcast and scoring is a
    map-only ``aggregate`` over each doc's bucket array — the
    gram-instance explode, the broadcast weight join and the per-doc
    margin shuffle are gone. Per-element term order and arithmetic
    (``w[b] * inv_n`` summed in array order) match the old explode +
    partial-agg plan, so the margins are bit-equal (-0.0 weights are
    normalized to +0.0, matching the old ``w != 0`` filter +
    coalesce-to-+0.0 semantics).
    """
    n_buckets = len(weights)
    spark = docs.sparkSession
    w = np.asarray(weights, dtype=np.float64) + 0.0  # -0.0 -> +0.0
    w_one_row = spark.createDataFrame(
        pd.DataFrame({"b": np.arange(n_buckets, dtype=np.int64), "w": w})
    ).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("b"), F.col("w")))),
            lambda s: s["w"],
        ).alias("_w")
    )
    bs = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        hashed_ngram_buckets_col(text_col, n_buckets).alias("_fb"),
    )
    inv_n = F.lit(1.0) / F.size("_fb")
    z = (
        F.aggregate(
            F.transform(
                "_fb",
                lambda b: F.element_at(F.col("_w"), b.cast("int") + F.lit(1))
                * inv_n,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        + F.lit(float(bias))
    )
    return bs.crossJoin(F.broadcast(w_one_row)).select(
        F.col("id").alias(id_col),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("clf_prob"),
    )


# ------------------------------------------------------------------
# Encoding cleanup (the CCNet/RefinedWeb "fix_text" stage): undo the
# most common UTF-8-read-as-Latin-1 mojibake, normalize exotic spaces,
# strip control characters. Pure codegen (chained translate /
# regexp_replace) — zero Python on the 100 TB side, and every rule is
# a PINNED table a DuckDB twin restates verbatim.
# ------------------------------------------------------------------
# UTF-8 byte sequences of common chars read back as cp1252/Latin-1
# ("\u00c3\u00a9" renders as \u00e9's mojibake). PINNED explicit pairs,
# escape-coded so no editor/tool can silently re-encode them; the
# three-byte smart-punctuation sequences come first so a chained
# replace never eats their two-byte prefix.
MOJIBAKE_TABLE: tuple[tuple[str, str], ...] = (
    ("\u00e2\u20ac\u2122", "\u2019"),
    ("\u00e2\u20ac\u02dc", "\u2018"),
    ("\u00e2\u20ac\u0153", "\u201c"),
    ("\u00e2\u20ac\u009d", "\u201d"),
    ("\u00e2\u20ac\u201c", "\u2013"),
    ("\u00e2\u20ac\u201d", "\u2014"),
    ("\u00e2\u20ac\u00a6", "\u2026"),
    ("\u00c3\u00a9", "\u00e9"),
    ("\u00c3\u00a8", "\u00e8"),
    ("\u00c3\u00a4", "\u00e4"),
    ("\u00c3\u00b6", "\u00f6"),
    ("\u00c3\u00bc", "\u00fc"),
    ("\u00c3\u00b1", "\u00f1"),
    ("\u00c3\u00a7", "\u00e7"),
    ("\u00c3\u00a1", "\u00e1"),
    ("\u00c3\u00b3", "\u00f3"),
    ("\u00c3\u00ba", "\u00fa"),
    ("\u00c3\u00ad", "\u00ed"),
    ("\u00c3\u00a0", "\u00e0"),
    ("\u00c3\u00a2", "\u00e2"),
    ("\u00c3\u00aa", "\u00ea"),
    ("\u00c3\u00b4", "\u00f4"),
    ("\u00c3\u00bb", "\u00fb"),
    ("\u00c3\u00ae", "\u00ee"),
    ("\u00c3\u00af", "\u00ef"),
    ("\u00c3\u00ab", "\u00eb"),
    ("\u00c3\u00b8", "\u00f8"),
    ("\u00c2\u00ab", "\u00ab"),
    ("\u00c2\u00bb", "\u00bb"),
    ("\u00c2\u00b0", "\u00b0"),
    ("\u00c2\u00b7", "\u00b7"),
)
# non-breaking / exotic spaces -> plain space (NBSP often survives
# as mojibake "\u00c2 " too — the stray marker strip below catches it)
_SPACES = "\u00a0\u2002\u2003\u2007\u2009\u200a\u3000"


def fix_text_col(text_col: str, passes: int = 1):
    """Mojibake + whitespace + control-char cleanup as one codegen
    expression chain: pinned double-encoded sequences restored, exotic
    spaces -> ' ', C0/C1 control chars (except \\n, \\t) stripped,
    stray 'Â' markers (the NBSP mojibake residue) removed. NULL
    propagates.

    A single pass is NOT a fixpoint (a property-probe established
    this): stripping a control char or 'Â' marker lodged INSIDE a
    mojibake pair ('Ã\\x01©') re-forms the pair, and doubly-encoded
    text ('Ã¢€™') reveals its inner layer only after the outer repair
    — the same reason ftfy iterates. ``passes`` unrolls the chain
    (still one codegen Project, no shuffle); 2 converges every probe
    case, the default 1 matches the published one-pass cleaners."""
    c = F.col(text_col)
    for _ in range(int(passes)):
        for bad, good in MOJIBAKE_TABLE:
            c = F.replace(c, F.lit(bad), F.lit(good))
        c = F.translate(c, _SPACES, " " * len(_SPACES))
        c = F.regexp_replace(c, "[\\x00-\\x08\\x0b-\\x1f\\x7f-\\x9f]", "")
        # stray-marker strip, RESTRICTED to 'Â' followed by space,
        # ASCII punctuation, or the latin-1 supplement block U+00A0-BF
        # (the C2-second-byte range: every genuine mojibake residue —
        # NBSP 'Â ', double-encoded 'ÃÂ©' — lands there). A bare
        # replace corrupted legitimate 'Â' before letters (Vietnamese
        # 'Ân', Romanian/French uppercase Â). Consuming group +
        # backreference (not lookahead) so the DuckDB twin (RE2, no
        # lookahead) restates it verbatim.
        c = F.regexp_replace(
            c, "Â([\\s\\u00a0-\\u00bf\\p{Punct}])", "$1"
        )
    return c


def fix_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", passes: int = 1
) -> DataFrame:
    """-> (id_col, text_fixed, changed). Scan -> Project, no shuffle."""
    fixed = fix_text_col(text_col, passes)
    return df.select(
        F.col(id_col),
        fixed.alias("text_fixed"),
        (~fixed.eqNullSafe(F.col(text_col))).alias("changed"),
    )


# ---------------------------------------------------------------------------
# C4-style cleaning (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning with a Unified Text-to-Text Transformer", §2.2 —
# public method). Line heuristics + page heuristics as ONE codegen
# Project over the doc row: nothing leaves its input row, zero shuffle.


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    badwords: list[str] | None = None,
) -> DataFrame:
    """C4 cleaning heuristics as a single zero-shuffle Project.

    Line level (C4 §2.2, applied to ``\\n``-split, trimmed lines):
      - keep only lines ending in a terminal punctuation mark
        (``.``, ``!``, ``?`` or an end quotation mark ``"``/``\\u201d``);
      - keep only lines with >= ``min_words_per_line`` whitespace words;
      - drop any line containing the word "javascript"
        (case-insensitive).
    Page level (computed on the CLEANED text where C4's pipeline does):
      - ``keep`` is false when the original page contains the phrase
        "lorem ipsum" (case-insensitive), contains a curly bracket
        (``{`` or ``}``), has fewer than ``min_sentences`` sentences
        after line cleaning (sentence proxy: runs of ``[.!?]``), or —
        when ``badwords`` is given — contains any listed word
        case-insensitively between non-word boundaries (C4's bad-words
        list is a parameter here, not vendored).

    Returns (id, text_clean, n_lines, n_lines_kept, n_sentences, keep)
    so callers can either ``filter("keep")`` or audit the funnel.
    NULL text -> empty clean text, keep=false.

    Physical shape: Scan -> Generate(inline) -> Project, every
    heuristic a codegen expression (split / filter / rlike /
    regexp_count); at 100 TB this is a map-only stage pipelined into
    whatever follows. The six outputs share the line-filter chain, so
    a plain 6-column Project would re-evaluate it per referencing
    column (projection collapse inlines aliases, and there is no CSE
    across HOF lambdas — the let_col lesson); instead the outputs are
    built as ONE struct inside nested let_col bindings and expanded
    through ``inline``, whose generator input is evaluated once per
    row (EXPLAIN §22 asserts the filter chain appears exactly once in
    the plan). The three-sentence-span dedup C4 pairs with these
    heuristics is the engine's existing ``paragraph_dedup``/
    ``chunk_dedup`` layer.
    """
    from ..functions.hof import let_col

    raw = F.coalesce(F.col(text_col), F.lit(""))
    lines_expr = F.transform(F.split(raw, "\n"), lambda l: F.trim(l))

    def _wc(l):
        return F.when(l == "", F.lit(0)).otherwise(
            F.size(F.split(l, "\\s+"))
        )

    def _keep_doc(n_sent):
        keep = (
            ~F.lower(raw).contains("lorem ipsum")
            & ~raw.contains("{")
            & ~raw.contains("}")
            & (n_sent >= F.lit(int(min_sentences)))
        )
        if badwords:
            # non-capturing alternation between non-word context;
            # escape regex metachars so the list is data, not pattern
            import re as _re

            pat = "(?i)(^|\\W)(" + "|".join(
                _re.escape(w) for w in sorted(badwords)
            ) + ")($|\\W)"
            keep = keep & ~raw.rlike(pat)
        return keep

    def _row(lines):
        kept_expr = F.filter(
            lines,
            lambda l: l.rlike('[.!?"”]$')
            & (_wc(l) >= F.lit(int(min_words_per_line)))
            & ~F.lower(l).contains("javascript"),
        )
        return let_col(
            kept_expr,
            lambda kept: let_col(
                F.concat_ws("\n", kept),
                lambda clean: let_col(
                    F.regexp_count(clean, F.lit("[.!?]+")),
                    lambda n_sent: F.struct(
                        clean.alias("text_clean"),
                        F.size(lines).alias("n_lines"),
                        F.size(kept).alias("n_lines_kept"),
                        n_sent.alias("n_sentences"),
                        _keep_doc(n_sent).alias("keep"),
                    ),
                ),
            ),
        )

    return df.select(
        F.col(id_col), F.inline(F.transform(F.array(lines_expr), _row))
    )


def span_dedup_c4(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_sents: int = 3,
) -> DataFrame:
    """C4's companion dedup (Raffel et al. 2020 §2.2: "we removed all
    but one of any three-sentence span occurring more than once"):
    sentences are delimited by a terminal-punctuation run followed by
    whitespace, grouped into non-overlapping ``n_sents`` spans; every
    span whose content occurs more than once in the corpus is removed
    from every occurrence EXCEPT the globally-first one (min packed
    (doc_id, span_pos) — the same canonical rule and grid-alignment
    boundary as ``chunk_dedup``, stated on sentence units instead of
    characters). The trailing partial span (< n_sents sentences) is
    protected like chunk_dedup's tail.

    -> (id_col, text_deduped, n_spans, n_removed); NULL text -> NULL.
    Inter-sentence whitespace is normalized to one space in the
    rebuilt text (the segmentation consumes it — C4's own pipeline
    re-joins sentences the same way). Plan: ``_drop_repeated_units``."""
    n = int(n_sents)
    if n < 1:
        raise ValueError("n_sents must be >= 1")
    # sentence boundary = terminal-punct run + whitespace, marked with
    # U+0001 via capture+backreference (RE2-compatible, so the DuckDB
    # twin restates it verbatim — no lookbehind)
    marked = F.regexp_replace(
        F.col(text_col), "([.!?]+)\\s+", "$1\u0001"
    )
    sents = F.split(marked, "\u0001")
    n_spans = F.floor(F.size(sents) / F.lit(n))
    mk = F.transform(
        F.sequence(F.lit(0).cast("long"), n_spans - 1),
        lambda i: F.concat_ws(" ", F.slice(sents, (i * n + 1).cast("int"), n)),
    )
    spans = F.when(n_spans >= 1, mk).otherwise(F.array().cast("array<string>"))
    joined, kept = _drop_repeated_units(df, id_col, spans)
    remainder = F.concat_ws(
        " ",
        F.slice(
            sents,
            (n_spans * n + 1).cast("int"),
            (F.size(sents) - n_spans * n).cast("int"),
        ),
    )
    rebuilt = F.concat_ws(
        " ",
        F.filter(
            F.concat(F.array(F.array_join(kept, " ")), F.array(remainder)),
            lambda s: s != "",
        ),
    )
    return joined.select(
        F.col(id_col),
        F.when(F.col(text_col).isNotNull(), rebuilt).alias("text_deduped"),
        F.coalesce(n_spans, F.lit(0)).cast("long").alias("n_spans"),
        "n_removed",
    )
