"""Distributed BPE tokenization.

Spark-first shape: the merge table is learned ONCE driver-side from a
BOUNDED sample's word-frequency table (the word counting itself is
distributed — Arrow-batched pre-tokenization, one word shuffle), then
broadcast to every executor; counting is an Arrow-batched pandas UDF
with a distinct-word memo, so the hot path is O(distinct words) merge
loops and ZERO shuffle — a map-only stage at any corpus size. Replaces
the whitespace/regex token-count heuristics (`token_count_col`)
wherever a real subword count is wanted (packing, token budgets).

The reference has no tokenizer; the method is Sennrich et al. 2016
(see functions/bpe.py). Training is deliberately sample-bounded: the
published BPE regime learns merges from a corpus sample (the merge
table is a model artifact, not a per-corpus aggregate), so the
driver-side table is bounded by the sample's distinct-word count, not
the corpus.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bpe import encode_word, pretokenize, train_bpe


def corpus_word_freqs(
    docs: DataFrame, text_col: str = "text", sample_docs: int = 10_000
) -> DataFrame:
    """-> (word, freq) over a bounded doc sample. Pre-tokenization is
    the Python kernel (same regex the encoder uses — Java's ``\\w`` is
    ASCII-only, so a JVM regexp_extract_all twin would disagree on
    unicode words); each Arrow batch emits its partial Counter, then
    one word-keyed shuffle sums the partials (map-side combine on
    batch-local counts). ``sample_docs=0`` means the FULL corpus —
    only sensible when the distinct-word table is known to be small
    (tests); production training stays sample-bounded."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import Counter

        for pdf in it:
            c: Counter[str] = Counter()
            for t in pdf[text_col]:
                if t is not None:
                    c.update(pretokenize(t))
            if c:
                yield pd.DataFrame(
                    {"word": list(c.keys()), "freq": list(c.values())}
                )

    sample = docs.select(text_col).where(F.col(text_col).isNotNull())
    if sample_docs:
        sample = sample.limit(int(sample_docs))
    return (
        sample.mapInPandas(batches, "word string, freq long")
        .groupBy("word")
        .agg(F.sum("freq").alias("freq"))
    )


def train_bpe_from_corpus(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
    sample_docs: int = 10_000,
) -> list[tuple[str, str]]:
    """Learn a merge list from a bounded corpus sample. The collect is
    the (sample-bounded) word-frequency table — the standard BPE
    training regime, not a corpus-wide driver pull."""
    freqs = {
        r.word: int(r.freq)
        for r in corpus_word_freqs(docs, text_col, sample_docs).collect()
    }
    return train_bpe(freqs, n_merges)


def _ranks_bc(spark: SparkSession, merges: list[tuple[str, str]]):
    ranks = {(a, b): i for i, (a, b) in enumerate(merges)}
    return spark.sparkContext.broadcast(ranks)


# r7: cross-task distinct-word memo (guide §4.5 "state that is
# expensive even per task"). Python workers are reused across tasks
# (spark.python.worker.reuse default), and this module is importable on
# executors, so a module-level cache survives between tasks and turns
# the per-task re-encode of the hot vocabulary into dict hits. Keyed by
# the merge tuple itself, compared by equality (a hash fingerprint
# would let two colliding tokenizers share counts); bounded on every
# insert — adversarial corpora with unbounded distinct words (e.g.
# random-digit junk) would otherwise grow it without limit.
_COUNT_CACHE: dict = {}
_COUNT_CACHE_KEY: object = None
_COUNT_CACHE_CAP = 2_000_000


def _count_cache_for(key) -> dict:
    global _COUNT_CACHE_KEY
    if _COUNT_CACHE_KEY != key or len(_COUNT_CACHE) >= _COUNT_CACHE_CAP:
        _COUNT_CACHE.clear()
        _COUNT_CACHE_KEY = key
    return _COUNT_CACHE


def bpe_token_count(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "n_tokens_bpe",
) -> DataFrame:
    """Append a real subword count (packing/budget input): the BPE
    encode kernel runs per distinct word, only the length crosses
    Arrow back."""
    bc = _ranks_bc(df.sparkSession, merges)
    key = tuple(merges)

    @F.pandas_udf("long")
    def cnt(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # iterator form: the (broadcast deref + memo fetch) happens
        # once per task, and the cross-task module memo keeps the hot
        # vocabulary's subword counts across reused workers (§4.5)
        ranks = bc.value
        cache = _count_cache_for(key)

        def n_tok(t):
            if t is None:
                return 0
            total = 0
            for w in pretokenize(t):
                c = cache.get(w)
                if c is None:
                    c = len(encode_word(w, ranks))
                    if len(cache) >= _COUNT_CACHE_CAP:
                        cache.clear()
                    cache[w] = c
                total += c
            return total

        for batch in texts:
            yield batch.map(n_tok)

    return df.withColumn(out_col, cnt(F.col(text_col)))
