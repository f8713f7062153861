"""C4-style cleaning, BPE tokenization, Bloom-filter anti-join —
hand goldens, independent oracles, and DuckDB twins (standing in for
driver contract rows; the contract is capped at 50 entries)."""

import contextlib

import pandas as pd
from pyspark.sql import functions as F

from streetview_naturevisibility_spark.functions.bpe import (
    EOW,
    encode_text,
    encode_word,
    pretokenize,
    train_bpe,
)
from streetview_naturevisibility_spark.operators.bloom import (
    bloom_anti_join,
    bloom_params,
    bloom_probe_col,
    build_bloom,
)
from streetview_naturevisibility_spark.operators.textops import c4_clean
from streetview_naturevisibility_spark.operators import tokenize
from streetview_naturevisibility_spark.operators.tokenize import (
    bpe_token_count,
    train_bpe_from_corpus,
)
from tests.oracle import duckdb_c4_clean


# ---------------------------------------------------------------- C4
def _c4_corpus():
    return [
        (0, "This line is properly terminated.\nshort one\n"
            "This line has no terminal punctuation at all\n"
            "Another good sentence ends here!\nDoes this one count?\n"
            'A quoted ending works too."\n'
            "Final real sentence for the count.\nAnd one more here.\n"
            "Yet another closing sentence."),
        (1, "Enable javascript to view this page.\n"
            "Please enable JAVASCRIPT now.\n"
            "A perfectly fine sentence one.\nA perfectly fine sentence two.\n"
            "A perfectly fine sentence three.\nA perfectly fine sentence four.\n"
            "A perfectly fine sentence five."),
        (2, "Lorem Ipsum dolor sit amet is filler.\nReal sentence here.\n"
            "More real content follows this.\nEven more content here.\n"
            "And the last of it now."),
        (3, "function() { return 1; }\nGood sentence one here.\n"
            "Good sentence two here.\nGood sentence three here.\n"
            "Good sentence four here.\nGood sentence five here."),
        (4, "Too few sentences to keep.\nJust this other one."),
        (5, None),
        (6, ""),
        (7, "  Leading spaces trimmed before checks.  \n"
            "word. word? word! word. word.\n"
            "Multi   space   words   counted.\n"
            "Tab\tseparated\twords\tcount.\n"
            "Ends with ellipsis...\nFive words ending properly."),
    ]


def test_c4_clean_goldens_and_twin(spark):
    df = spark.createDataFrame(_c4_corpus(), "doc_id: long, text: string")
    got = c4_clean(df).orderBy("doc_id").toPandas()

    by = {r.doc_id: r for r in got.itertuples()}
    # doc 0: 'short one' (2 words) and unterminated line dropped
    assert "short one" not in by[0].text_clean
    assert "no terminal punctuation" not in by[0].text_clean
    assert by[0].keep  # 6 kept sentence lines >= 5
    # doc 1: both javascript lines dropped case-insensitively; the 5
    # remaining real sentences keep the page
    assert "javascript" not in by[1].text_clean.lower()
    assert by[1].n_lines_kept == 5 and by[1].keep
    # doc 2: lorem ipsum kills the page even though lines are fine
    assert not by[2].keep
    # doc 3: curly bracket kills the page
    assert not by[3].keep
    # doc 4: under min_sentences
    assert not by[4].keep and by[4].n_sentences == 2
    # NULL / empty -> empty clean, not kept
    assert by[5].text_clean == "" and not by[5].keep
    assert by[6].text_clean == "" and not by[6].keep
    # doc 7: trimmed line kept; ellipsis line ends in '.', kept; the
    # [.!?]+ run counts ONCE per run
    assert "Leading spaces trimmed before checks." in by[7].text_clean
    assert "Ends with ellipsis..." in by[7].text_clean

    want = duckdb_c4_clean(
        pd.DataFrame(_c4_corpus(), columns=["doc_id", "text"])
    )
    got2 = got.sort_values("doc_id").reset_index(drop=True)
    want = want.sort_values("doc_id").reset_index(drop=True)
    for c in ("text_clean", "n_lines", "n_lines_kept", "n_sentences", "keep"):
        assert list(got2[c]) == list(want[c]), c


def test_c4_badwords_param(spark):
    rows = [
        (0, "Totally fine sentence one.\nFine sentence two here.\n"
            "Fine sentence three here.\nFine sentence four here.\n"
            "Fine sentence five here."),
        (1, "Contains the banned word zorblat here.\nFine sentence two.\n"
            "Fine sentence three here.\nFine sentence four here.\n"
            "Fine sentence five here."),
        (2, "zorblatish is a different word entirely.\nFine two here.\n"
            "Fine sentence three here.\nFine sentence four here.\n"
            "Fine sentence five here."),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = (
        c4_clean(df, badwords=["zorblat"])
        .orderBy("doc_id")
        .select("doc_id", "keep")
        .toPandas()
    )
    assert list(got.keep) == [True, False, True]
    want = duckdb_c4_clean(
        pd.DataFrame(rows, columns=["doc_id", "text"]), badwords=["zorblat"]
    )
    assert list(got.keep) == list(want.keep)


def test_c4_plan_is_map_only(spark):
    df = spark.createDataFrame(_c4_corpus(), "doc_id: long, text: string")
    plan = c4_clean(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan  # pure codegen, no UDF


# ---------------------------------------------------------------- BPE
def test_bpe_train_paper_example():
    # Sennrich et al.'s worked example: the first merges pick up the
    # frequent 'es'/'est' suffix of newest/widest
    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = train_bpe(freqs, 4)
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t" + EOW)
    assert ("l", "o") in merges  # 'lo' (freq 7) follows


def test_bpe_train_determinism_and_early_stop():
    freqs = {"ab": 2, "ba": 2}  # ('a','b</w>') vs ('b','a</w>') ties
    m1 = train_bpe(dict(freqs), 10)
    m2 = train_bpe(dict(reversed(list(freqs.items()))), 10)
    assert m1 == m2  # lexicographic tie-break, not dict order
    # all-unique words: no pair reaches freq 2 -> no merges at all
    assert train_bpe({"abc": 1, "xyz": 1}, 10) == []


def _oracle_encode(word: str, merges) -> list:
    """Independent encode: apply merges SEQUENTIALLY in training
    order (subword-nmt's shape). Equivalent to the engine's greedy
    lowest-rank-first loop because a merge only creates NEW symbols —
    an earlier pair (two older symbols) can never newly become
    adjacent from a later merge's output symbol."""
    syms = list(word[:-1]) + [word[-1] + EOW] if word else []
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_encode_matches_sequential_oracle():
    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "wide": 1}
    merges = train_bpe(freqs, 8)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in list(freqs) + ["newer", "lowest", "west", "w", "zz"]:
        assert list(encode_word(w, ranks)) == _oracle_encode(w, merges), w


def test_bpe_encode_roundtrip_property():
    freqs = {"hello": 4, "help": 3, "world": 5, "word": 2}
    merges = train_bpe(freqs, 6)
    ranks = {p: i for i, p in enumerate(merges)}
    for text in ("hello world", "help the word", "unseen tokens here!"):
        toks = encode_text(text, ranks)
        # concatenating tokens and splitting on </w> restores the
        # pre-tokenized word sequence exactly
        words = [w for w in "".join(toks).split(EOW) if w]
        assert words == pretokenize(text)


def test_bpe_spark_encode_and_count(spark):
    rows = [
        (0, "the newest widest thing"),
        (1, "lower and lower, the lowest!"),
        (2, None),
        (3, ""),
        (4, "the the the newest newest"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    merges = train_bpe_from_corpus(df, n_merges=10, sample_docs=100)
    ranks = {p: i for i, p in enumerate(merges)}

    cnt = {
        r.doc_id: r.n_tokens_bpe
        for r in bpe_token_count(df, merges).collect()
    }
    for did, text in rows:
        want = 0 if text is None else len(encode_text(text, ranks))
        assert cnt[did] == want, did


def test_bpe_spark_train_matches_local_counter(spark):
    rows = [(i, f"alpha beta gamma w{i % 3}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    merges = train_bpe_from_corpus(df, n_merges=5, sample_docs=0)
    from collections import Counter

    c = Counter()
    for _, t in rows:
        c.update(pretokenize(t))
    assert merges == train_bpe(dict(c), 5)


def test_bpe_plan_no_shuffle(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id: long, text: string")
    merges = [("a", "b" + EOW)]
    plan = (
        bpe_token_count(df, merges)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan  # Arrow-batched, not row-at-a-time


# -------------------------------------------------------------- Bloom
def test_bloom_params_sane():
    m, k = bloom_params(1000, 0.01)
    assert m % 8 == 0 and 9000 < m < 11000 and 6 <= k <= 8


def test_bloom_no_false_negatives_and_fp_rate(spark):
    done = spark.range(0, 2000).select(
        F.concat(F.lit("digest-"), F.col("id")).alias("d")
    )
    bloom = build_bloom(done, "d", capacity=2000, fpp=0.01)
    probe_members = bloom_probe_col(done, "d", bloom)
    assert probe_members.where(~F.col("_maybe_member")).count() == 0
    others = spark.range(10_000, 30_000).select(
        F.concat(F.lit("digest-"), F.col("id")).alias("d")
    )
    fp = bloom_probe_col(others, "d", bloom).where("_maybe_member").count()
    assert fp / 20_000 < 0.03  # ~1% design point, 3x headroom


def test_bloom_anti_join_exact(spark, no_broadcast):
    batch = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("k"), F.col("id") % 400).alias("key"),
    )
    done = spark.range(0, 200).select(
        F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    bloom = build_bloom(done, "key", capacity=200, fpp=0.01)
    want = (
        batch.join(done, "key", "left_anti").orderBy("doc_id").toPandas()
    )
    # both join strategies are EXACTLY the anti-join: broadcast
    # candidates (default budget) and plain joins (nothing fits); the
    # batch is never split into a certain-miss / candidate union
    for path in (contextlib.nullcontext, no_broadcast):
        with path():
            out = bloom_anti_join(batch, done, "key", bloom)
            got = out.orderBy("doc_id").toPandas()
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "Union" not in plan, path
        assert list(got.doc_id) == list(want.doc_id), path
        assert list(got.key) == list(want.key), path


def test_bloom_build_many_partitions_and_nulls(spark):
    done = (
        spark.range(0, 5000, 1, 64)
        .select(
            F.when(F.col("id") % 50 == 0, None)
            .otherwise(F.concat(F.lit("x"), F.col("id")))
            .alias("d")
        )
    )
    bloom = build_bloom(done, "d", capacity=5000, fpp=0.01, fanin=8)
    present = done.where(F.col("d").isNotNull())
    assert (
        bloom_probe_col(present, "d", bloom)
        .where(~F.col("_maybe_member"))
        .count()
        == 0
    )
    # NULL keys probe False (and never enter the filter)
    nulls = spark.createDataFrame([(None,)], "d: string")
    r = bloom_probe_col(nulls, "d", bloom).collect()[0]
    assert r._maybe_member is False


# ---------------------------------------------------- CLI integration
def test_cli_curate_c4_and_bpe(spark, run_cli, tmp_path, capsys):
    """curate --c4 --bpe-merges --pack-tokens end-to-end: C4 drops the
    punctuation-free page, BPE subword counts drive packing."""
    import os

    rows = []
    for i in range(40):
        if i % 10 == 9:
            rows.append((i, "no terminal punctuation here at all", "en"))
        else:
            lines = [
                f"Document {i} sentence number {j} is here." for j in range(6)
            ]
            rows.append((i, "\n".join(lines), "en"))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")
    src = str(tmp_path / "docs")
    docs.write.parquet(src)

    out = str(tmp_path / "cur")
    run_cli(
        "curate",
        "--docs", src,
        "--out", out,
        "--min-quality", 0.0,
        "--jaccard", 0.5,
        "--max-bucket", 10_000,
        "--default-rate", 1.0,
        "--c4",
        "--c4-min-words", 3,
        "--c4-min-sentences", 5,
        "--bpe-merges", 30,
        "--bpe-sample", 100,
        "--pack-tokens", 64,
    )
    text = capsys.readouterr().out
    assert "[c4] kept=36 of 40 pages" in text
    assert "[bpe] learned" in text
    assert "[pack]" in text
    cur = spark.read.parquet(os.path.join(out, "curated"))
    # packed training rows with BPE subword totals
    assert {"bin_id", "packed_text", "n_docs", "n_tokens"} <= set(cur.columns)
    assert cur.count() > 0
    # every surviving document landed in exactly one bin, and the bin
    # count is the closed-form ceil(total_subwords / budget)
    tot = cur.agg(
        F.sum("n_tokens").alias("t"), F.count(F.lit(1)).alias("b")
    ).collect()[0]
    assert int(tot.b) == -(-int(tot.t) // 64)


# ------------------------------------------------- streaming analogs
def test_c4_and_bpe_stream_match_batch(spark, tmp_path):
    """c4_clean and bpe_token_count are stateless projections, so they
    run unchanged on a file stream; AvailableNow output must equal the
    batch result row-for-row."""
    import os

    rows = []
    for i in range(30):
        if i == 7:
            rows.append((i, None))
        elif i % 5 == 2:
            rows.append((i, "no terminal punct line\nlorem ipsum too"))
        else:
            rows.append(
                (i, "\n".join(f"Doc {i} sentence {j} stands here." for j in range(6)))
            )
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "doc_id: long, text: string").repartition(
        3
    ).write.mode("overwrite").parquet(src)
    merges = [("s", "t"), ("st", "a"), ("e", "n")]

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    streamed = bpe_token_count(c4_clean(stream), merges, text_col="text_clean")
    out = str(tmp_path / "out")
    q = (
        streamed.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.read.parquet(out)
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        bpe_token_count(
            c4_clean(spark.read.parquet(src)), merges, text_col="text_clean"
        )
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    for c in ("doc_id", "text_clean", "keep", "n_tokens_bpe"):
        assert list(got[c]) == list(want[c]), c
    assert len(got) == 30


def test_bpe_incremental_matches_rescan():
    """The incremental pair-index trainer must produce the exact merge
    list of the textbook full-rescan trainer on a varied vocab
    (including words that become identical after merges)."""
    from streetview_naturevisibility_spark.functions.bpe import (
        train_bpe_rescan,
    )

    import random

    rng = random.Random(7)
    alphabet = "abcde"
    freqs = {}
    for _ in range(300):
        w = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 8)))
        freqs[w] = freqs.get(w, 0) + rng.randint(1, 9)
    assert train_bpe(dict(freqs), 60) == train_bpe_rescan(dict(freqs), 60)
    # and on the paper vocab with deep merges
    f2 = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    assert train_bpe(f2, 30) == train_bpe_rescan(f2, 30)


# ------------------------------------------------ property (hypothesis)
from hypothesis import given, settings, strategies as st

settings.register_profile("fast_tok", max_examples=50, deadline=None)
settings.load_profile("fast_tok")

_word = st.text(alphabet="abcdef", min_size=1, max_size=10)


@given(st.dictionaries(_word, st.integers(1, 20), min_size=1, max_size=40),
       st.integers(0, 30))
def test_bpe_train_property_incremental_equals_rescan(freqs, n):
    from streetview_naturevisibility_spark.functions.bpe import (
        train_bpe_rescan,
    )

    assert train_bpe(dict(freqs), n) == train_bpe_rescan(dict(freqs), n)


@given(
    st.dictionaries(_word, st.integers(1, 20), min_size=1, max_size=30),
    st.lists(st.text(alphabet="abcdef !?.", max_size=40), max_size=5),
)
def test_bpe_encode_property_roundtrip_and_oracle(freqs, texts):
    merges = train_bpe(dict(freqs), 20)
    ranks = {p: i for i, p in enumerate(merges)}
    for text in texts:
        toks = encode_text(text, ranks)
        # lossless: concat+EOW-split restores the pre-token stream
        words = [w for w in "".join(toks).split(EOW) if w]
        assert words == pretokenize(text)
        # greedy == sequential merge application, word by word
        for w in pretokenize(text):
            assert list(encode_word(w, ranks)) == _oracle_encode(w, merges)


def test_bpe_count_memo_keyed_by_merges_not_their_hash():
    """The cross-task count memo must not be shared between two merge
    lists whose hash() collides (CPython: hash(-1) == hash(-2)), and a
    cap reached inside a task clears it instead of growing it."""
    assert hash(-1) == hash(-2)
    saved = (dict(tokenize._COUNT_CACHE), tokenize._COUNT_CACHE_KEY)
    try:
        tokenize._COUNT_CACHE.clear()
        tokenize._COUNT_CACHE_KEY = None
        tokenize._count_cache_for(-1)["word"] = 3
        assert tokenize._count_cache_for(-1) == {"word": 3}
        assert tokenize._count_cache_for(-2) == {}
        tokenize._COUNT_CACHE.update((str(i), 1) for i in range(4))
        cap = tokenize._COUNT_CACHE_CAP
        tokenize._COUNT_CACHE_CAP = 4
        try:
            assert tokenize._count_cache_for(-2) == {}
        finally:
            tokenize._COUNT_CACHE_CAP = cap
    finally:
        tokenize._COUNT_CACHE.clear()
        tokenize._COUNT_CACHE.update(saved[0])
        tokenize._COUNT_CACHE_KEY = saved[1]


def test_cli_curate_done_set(spark, run_cli, tmp_path, capsys):
    """Incremental curate: --done-digests drops already-curated docs,
    --done-bloom yields the identical funnel."""
    import os

    rows = [(i, f"unique document body number {i} with words") for i in range(40)]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id: long, text: string").write.parquet(src)
    done = str(tmp_path / "done")
    # first 10 docs are already curated
    spark.createDataFrame(
        [(r[1],) for r in rows[:10]], "text: string"
    ).select(F.md5("text").alias("digest")).write.parquet(done)

    outs = {}
    for use_bloom in (False, True):
        out = str(tmp_path / f"cur_{use_bloom}")
        run_cli(
            "curate",
            "--docs", src,
            "--out", out,
            "--min-quality", 0.0,
            "--jaccard", 0.5,
            "--max-bucket", 10_000,
            "--default-rate", 1.0,
            "--done-digests", done,
            *(["--done-bloom"] if use_bloom else []),
        )
        text = capsys.readouterr().out
        assert "[done-set] dropped=10" in text, text
        outs[use_bloom] = sorted(
            r.doc_id
            for r in spark.read.parquet(os.path.join(out, "curated")).collect()
        )
    assert outs[False] == outs[True]
    assert all(i >= 10 for i in outs[False])


# --------------------------------------------------- C4 span dedup
def _span_corpus():
    def s(tag, k):
        return f"Sentence {tag}{k} has words."

    shared = " ".join(s("x", k) for k in range(3))  # one full shared span
    rows = [
        # doc 0: canonical first occurrence (pos 0) + own span
        (0, shared + " " + " ".join(s("a", k) for k in range(3))),
        # doc 1: same span at an ALIGNED grid slot (pos 1) -> killed
        (1, " ".join(s("b", k) for k in range(3)) + " " + shared),
        # doc 2: same sentences but shifted one sentence off the grid
        # -> NOT caught (the documented chunk-grid boundary)
        (2, s("c", 0) + " " + shared + " " + s("c", 1) + " " + s("c", 2)),
        # doc 3: within-doc repeat of its own span -> second killed
        (3, " ".join(s("d", k) for k in range(3)) + " "
            + " ".join(s("d", k) for k in range(3))),
        # doc 4: trailing remainder identical to doc 5's -> protected
        (4, " ".join(s("e", k) for k in range(3)) + " Tail one. Tail two."),
        (5, " ".join(s("f", k) for k in range(3)) + " Tail one. Tail two."),
        (6, None),
        (7, ""),
        (8, "Just two. Short ones."),
    ]
    return rows


def test_span_dedup_c4_goldens_and_twin(spark):
    from streetview_naturevisibility_spark.operators.textops import (
        span_dedup_c4,
    )
    from tests.oracle import duckdb_span_dedup_c4

    rows = _span_corpus()
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = span_dedup_c4(df).orderBy("doc_id").toPandas()
    by = {r.doc_id: r for r in got.itertuples()}

    assert "Sentence x0" in by[0].text_deduped and by[0].n_removed == 0
    # doc 1: aligned duplicate killed, own span survives
    assert by[1].n_removed == 1 and "Sentence x0" not in by[1].text_deduped
    assert "Sentence b0" in by[1].text_deduped
    # doc 2: shifted off-grid -> untouched (documented boundary)
    assert by[2].n_removed == 0 and "Sentence x0" in by[2].text_deduped
    # doc 3: within-doc repeat -> exactly one instance survives
    assert by[3].n_removed == 1
    assert by[3].text_deduped.count("Sentence d0") == 1
    # docs 4/5: identical 2-sentence remainders protected in both
    assert by[4].n_removed == 0 and by[5].n_removed == 0
    assert "Tail one. Tail two." in by[4].text_deduped
    assert "Tail one. Tail two." in by[5].text_deduped
    # NULL / empty / short
    assert by[6].text_deduped is None
    assert by[7].text_deduped == "" and by[7].n_spans == 0
    assert by[8].n_spans == 0 and "Just two." in by[8].text_deduped

    want = duckdb_span_dedup_c4(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    got2 = got.sort_values("doc_id").reset_index(drop=True)
    want = want.sort_values("doc_id").reset_index(drop=True)
    for c in ("text_deduped", "n_spans", "n_removed"):
        g = [None if pd.isna(v) else v for v in got2[c]]
        w = [None if pd.isna(v) else v for v in want[c]]
        assert g == w, c


def test_cli_curate_span_dedup(spark, run_cli, tmp_path, capsys):
    """curate --c4 --span-dedup 3: the shared three-sentence opener is
    removed from every doc but the global first."""
    import os

    shared = "Shared open one. Shared open two. Shared open three."
    rows = [
        (i, shared + " " + " ".join(
            f"Body {i} sentence {j} stays here." for j in range(5)))
        for i in range(20)
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id: long, text: string").write.parquet(src)
    out = str(tmp_path / "cur")
    run_cli(
        "curate",
        "--docs", src,
        "--out", out,
        "--min-quality", 0.0,
        "--jaccard", 0.5,
        "--max-bucket", 10_000,
        "--default-rate", 1.0,
        "--c4",
        "--c4-min-words", 3,
        "--c4-min-sentences", 5,
        "--span-dedup", 3,
    )
    text = capsys.readouterr().out
    assert "[span] removed=19" in text, text
    cur = spark.read.parquet(os.path.join(out, "curated"))
    n_with_shared = cur.where(F.col("text").contains("Shared open one")).count()
    assert n_with_shared == 1


class TestBloomR7:
    """r7 bloom fixes: sliced bitmap build (same bits), one broadcast
    per filter lifetime, nondeterministic probe (no done-side copy)."""

    def test_sliced_build_same_bits(self, spark, monkeypatch):
        from streetview_naturevisibility_spark.operators import bloom as BL

        docs = spark.range(0, 5000, 1, 8).select(
            F.md5(F.col("id").cast("string")).alias("d")
        )
        whole = BL.build_bloom(docs, "d", capacity=5000, fpp=0.01)
        # force many tiny slices through the same build
        monkeypatch.setattr(BL, "_SLICE", 64)
        sliced = BL.build_bloom(docs, "d", capacity=5000, fpp=0.01)
        assert whole["m"] == sliced["m"] and whole["k"] == sliced["k"]
        assert (whole["bits"] == sliced["bits"]).all()

    def test_probe_broadcast_reused_and_nondeterministic(self, spark):
        from streetview_naturevisibility_spark.operators import bloom as BL

        docs = spark.range(0, 100, 1, 2).select(
            F.md5(F.col("id").cast("string")).alias("d")
        )
        bl = BL.build_bloom(docs, "d", capacity=100)
        p1 = BL.bloom_probe_col(docs, "d", bl)
        bc = bl.get("_bc")
        assert bc is not None
        p2 = BL.bloom_probe_col(docs, "d", bl)
        assert bl["_bc"] is bc  # no new broadcast per probe
        assert p1.where(F.col("_maybe_member")).count() == 100
        assert p2.where(F.col("_maybe_member")).count() == 100
