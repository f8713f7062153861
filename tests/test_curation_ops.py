"""Gopher-style repetition signals, RefinedWeb-style paragraph dedup,
and graded contamination overlap — hand-computed goldens + DuckDB
ANSI-SQL twins (tests/oracle.py), standing in for driver contract rows
(the driver caps the contract at 50 entries)."""

import numpy as np
import pandas as pd
import pytest

from streetview_naturevisibility_spark.operators.textops import (
    contaminated_ids,
    contamination_overlap,
    paragraph_dedup,
    repetition_signals,
)
from tests.oracle import (
    duckdb_contamination_overlap,
    duckdb_paragraph_dedup,
    duckdb_repetition_signals,
)


def _wide_corpus():
    """Deterministic corpus with real repetition structure: duplicate
    lines, repeated n-grams, empty text, single-token docs, null text."""
    rows = []
    for i in range(60):
        if i % 23 == 22:
            rows.append((i, None))
            continue
        if i % 19 == 18:
            rows.append((i, ""))
            continue
        lines = []
        for j in range(2 + i % 6):
            toks = [f"w{(i * 13 + j * 5 + k * ((i % 4) or 1)) % 9}" for k in range(3 + (i + j) % 7)]
            lines.append(" ".join(toks))
        if i % 3 == 0:  # plant a duplicate line
            lines.append(lines[0])
        rows.append((i, "\n".join(lines)))
    return rows


class TestRepetitionSignals:
    def test_hand_computed(self, spark):
        docs = spark.createDataFrame(
            [
                # tokens a b a b a b -> "a b" x3 of five 2-grams;
                # lines: one line only
                (1, "a b a b a b"),
                # two identical lines + one unique
                (2, "x y\nx y\nzz"),
                (3, ""),
            ],
            "doc_id: long, text: string",
        )
        out = {r.doc_id: r for r in repetition_signals(docs).collect()}
        r1 = out[1]
        assert r1.n_lines == 1 and r1.dup_line_frac == 0.0
        # top 2-gram "a b": count 3, len 3, n_chars 11
        assert r1.top2gram_char_frac == 3 * 3 / 11
        # top 3-gram "a b a"/"b a b": both count 2, len 5
        assert r1.top3gram_char_frac == 2 * 5 / 11
        # top 4-gram "a b a b" count 2 (positions 1,3 overlap is fine)
        assert r1.top4gram_char_frac == 2 * 7 / 11
        r2 = out[2]
        assert r2.n_lines == 3
        assert r2.dup_line_frac == 1.0 / 3.0
        # duplicate chars: "x y" beyond first occurrence = 3; line chars 3+3+2
        assert r2.dup_line_char_frac == 3 / 8
        r3 = out[3]
        assert r3.n_lines == 1 and r3.dup_line_frac == 0.0
        assert r3.dup_line_char_frac == 0.0 and r3.top2gram_char_frac == 0.0

    def test_duckdb_twin_wide(self, spark):
        rows = _wide_corpus()
        docs = spark.createDataFrame(rows, "doc_id: long, text: string")
        got = (
            repetition_signals(docs)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        want = duckdb_repetition_signals(
            pd.DataFrame(rows, columns=["doc_id", "text"])
        )
        assert list(got["doc_id"]) == list(want["doc_id"])
        for c in [
            "dup_line_frac",
            "dup_line_char_frac",
            "top2gram_char_frac",
            "top3gram_char_frac",
            "top4gram_char_frac",
        ]:
            a = got[c].to_numpy(dtype=float)
            b = want[c].to_numpy(dtype=float)
            both = ~np.isnan(a) & ~np.isnan(b)
            assert (np.isnan(a) == np.isnan(b)).all(), c
            assert (a[both] == b[both]).all(), c
        nl_a, nl_b = got["n_lines"], want["n_lines"]
        assert (nl_a.isna() == nl_b.isna()).all()
        assert (nl_a.dropna().to_numpy() == nl_b.dropna().to_numpy()).all()

    def test_100k_line_adversarial_doc(self, spark):
        """A 100k-line document with ~50k DISTINCT lines — the shape
        real web dumps contain (log files, generated listings). The
        old per-distinct-line F.filter scan was O(distinct x total)
        ~ 5e9 comparisons inside ONE row; the sorted-run scan is
        O(L log L) and must finish in seconds with the exact value."""
        import time

        n = 100_000
        # even lines unique (8 chars each: 'u<7-digit>'), odd lines all
        # the same 9-char string -> 49_999 duplicate instances
        lines = [
            f"u{i:07d}" if i % 2 == 0 else "dup-line!" for i in range(n)
        ]
        text = "\n".join(lines)
        line_chars = 50_000 * 8 + 50_000 * 9
        docs = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
        t0 = time.time()
        r = repetition_signals(docs).collect()[0]
        wall = time.time() - t0
        assert r.n_lines == n
        # distinct = 50_000 uniques + 1 shared = 50_001
        assert r.dup_line_frac == (n - 50_001) / n
        # dup instances: 49_999 copies of the 9-char line
        assert r.dup_line_char_frac == (49_999 * 9) / line_chars
        assert wall < 60, f"adversarial doc took {wall:.1f}s"


BOILER = "subscribe to our newsletter"
FOOTER = "all rights reserved"


def _para_corpus():
    rows = []
    for i in range(24):
        paras = [f"unique body {i} alpha", BOILER, f"unique body {i} beta"]
        if i % 2 == 0:
            paras.append(FOOTER)
        if i == 7:
            paras = [BOILER, FOOTER]  # all-boilerplate doc
        rows.append((i, "\n\n".join(paras)))
    return rows


class TestParagraphDedup:
    def test_semantics(self, spark):
        rows = _para_corpus()
        docs = spark.createDataFrame(rows, "doc_id: long, text: string")
        out = {r.doc_id: r for r in paragraph_dedup(docs).collect()}
        assert len(out) == 24
        # boilerplate removed, uniques kept in order
        r0 = out[0]
        assert r0.text_deduped == "unique body 0 alpha\n\nunique body 0 beta"
        assert r0.n_paras == 4 and r0.n_removed == 2
        # all-boilerplate doc survives as a row with empty text
        assert out[7].text_deduped == "" and out[7].n_removed == 2
        # odd doc (no footer): only BOILER removed
        assert out[3].n_removed == 1

    def test_min_chars_and_max_docs(self, spark):
        rows = [(0, "hi\n\nlong shared paragraph"), (1, "hi\n\nlong shared paragraph"), (2, "hi\n\nother")]
        docs = spark.createDataFrame(rows, "doc_id: long, text: string")
        # min_chars=5 protects "hi" even though it appears in 3 docs
        out = {r.doc_id: r for r in paragraph_dedup(docs, min_chars=5).collect()}
        assert out[2].text_deduped == "hi\n\nother" and out[2].n_removed == 0
        assert out[0].text_deduped == "hi" and out[0].n_removed == 1
        # max_docs=2 tolerates the 2-doc shared paragraph but still
        # drops "hi" (3 docs)
        out2 = {r.doc_id: r for r in paragraph_dedup(docs, max_docs=2).collect()}
        assert out2[0].text_deduped == "long shared paragraph"
        assert out2[0].n_removed == 1
        assert out2[2].text_deduped == "other" and out2[2].n_removed == 1

    def test_duckdb_twin(self, spark):
        rows = _para_corpus()
        docs = spark.createDataFrame(rows, "doc_id: long, text: string")
        got = (
            paragraph_dedup(docs)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        want = duckdb_paragraph_dedup(pd.DataFrame(rows, columns=["doc_id", "text"]))
        assert list(got["doc_id"]) == list(want["doc_id"])
        assert list(got["text_deduped"]) == list(want["text_deduped"])
        assert list(got["n_paras"]) == list(want["n_paras"])
        assert list(got["n_removed"]) == list(want["n_removed"])


class TestContaminationOverlap:
    def _corpus(self, spark):
        bench = "q0 q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14"
        rows = []
        for i in range(40):
            if i == 5:
                rows.append((i, None))
            elif i == 11:  # fully contaminated: the benchmark verbatim
                rows.append((i, bench))
            elif i == 17:  # partially contaminated: benchmark + own tail
                rows.append((i, bench + " " + " ".join(f"t{i}x{j}" for j in range(13))))
            else:
                rows.append((i, " ".join(f"t{(i * 31 + j * 13) % 50}" for j in range(5 + i % 20))))
        docs = spark.createDataFrame(rows, "doc_id: long, text: string")
        blk = spark.createDataFrame([(0, bench)], "bid: long, text: string")
        return rows, docs, blk

    def test_values_and_boolean_consistency(self, spark):
        rows, docs, blk = self._corpus(spark)
        out = {r.doc_id: r for r in contamination_overlap(docs, blk, block_text_col="text").collect()}
        assert len(out) == 40  # every doc present, incl. null text
        assert out[5].n_shingles == 0 and out[5].overlap_frac == 0.0
        # doc 11 = benchmark verbatim: all 3 distinct 13-gram shingles hit
        assert out[11].overlap_frac == 1.0 and out[11].n_hit == out[11].n_shingles
        # doc 17: hits the 3 benchmark shingles but has its own too
        assert 0.0 < out[17].overlap_frac < 1.0
        bool_ids = {
            r.doc_id for r in contaminated_ids(docs, blk).collect()
        }
        frac_ids = {i for i, r in out.items() if r.n_hit > 0}
        assert bool_ids == frac_ids == {11, 17}

    def test_duckdb_twin(self, spark):
        rows, docs, blk = self._corpus(spark)
        got = (
            contamination_overlap(docs, blk)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        want = duckdb_contamination_overlap(
            pd.DataFrame(rows, columns=["doc_id", "text"]),
            blk.toPandas().rename(columns={"bid": "doc_id"}),
        )
        assert list(got["doc_id"]) == list(want["doc_id"])
        assert list(got["n_shingles"]) == list(want["n_shingles"])
        assert list(got["n_hit"]) == list(want["n_hit"])
        a = got["overlap_frac"].to_numpy(dtype=float)
        b = want["overlap_frac"].to_numpy(dtype=float)
        assert (a == b).all()


from streetview_naturevisibility_spark.operators.corpus import token_budget_select
from tests.oracle import duckdb_token_budget_select


def _budget_corpus():
    """Tie-heavy corpus: 3 langs + a NULL-lang row, quality ties that
    straddle any bucket boundary, NULL quality, NULL/empty text."""
    rows = []
    i = 0
    for lang in ["en", "de", "fr"]:
        for q in [0.9, 0.7, 0.7, 0.7, 0.5, 0.5, 0.3, None]:
            for rep in range(3):
                n_tok = 2 + (i * 7) % 9
                text = " ".join(f"t{i}x{k}" for k in range(n_tok))
                rows.append((i, text, lang, q))
                i += 1
    rows.append((i, "a b c", None, 0.8))
    rows.append((i + 1, None, "en", None))
    return rows


class TestTokenBudgetSelect:
    SCHEMA = "doc_id: long, text: string, lang: string, quality_score: double"

    def test_hand_computed(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "a b c d", "en", 0.9),    # 4 tokens, cum 4
                (2, "a b c d e f", "en", 0.8),  # 6 tokens, cum 10 > 9 -> dropped
                (3, "a b", "en", 0.7),        # 2 tokens — dropped too (no skip-ahead)
                (4, "a b", "de", 0.1),        # de has no budget
            ],
            self.SCHEMA,
        )
        kept = token_budget_select(docs, {"en": 9}).collect()
        assert {r.doc_id for r in kept} == {1}
        assert kept[0].n_tokens == 4

    def test_window_matches_duckdb_twin(self, spark):
        import pandas as pd

        rows = _budget_corpus()
        budgets = {"en": 40, "de": 10_000, "fr": 0}
        docs = spark.createDataFrame(rows, self.SCHEMA)
        got = (
            token_budget_select(docs, budgets)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        want = duckdb_token_budget_select(
            pd.DataFrame(rows, columns=["doc_id", "text", "lang", "quality_score"]),
            budgets,
        )
        assert list(got["doc_id"]) == list(want["doc_id"])
        assert list(got["n_tokens"]) == list(want["n_tokens"])

    def test_bucketed_equals_window(self, spark):
        import pandas as pd

        rows = _budget_corpus()
        docs = spark.createDataFrame(rows, self.SCHEMA)
        pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "quality_score"])
        for budgets, default in [
            ({"en": 40, "de": 55, "fr": 1}, 0),
            ({"en": 3, "de": 10_000}, 5),
            ({}, 37),
        ]:
            base = set(
                duckdb_token_budget_select(
                    pdf, budgets, default_budget=default
                )["doc_id"].tolist()
            )
            for nb in [2, 64, 1024]:
                got = {
                    r.doc_id
                    for r in token_budget_select(
                        docs, budgets, default_budget=default, n_buckets=nb
                    ).collect()
                }
                assert got == base, (budgets, default, nb)

    def test_null_strata_and_quality(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "a b", None, 0.9),
                (2, "a b", "en", None),
                (3, "a b c", "en", 0.5),
            ],
            self.SCHEMA,
        )
        # default budget covers NULL lang; NULL-text doc counts as
        # 0 tokens so it rides along while budget remains
        kept = {
            r.doc_id
            for r in token_budget_select(
                docs, {"en": 5}, default_budget=2
            ).collect()
        }
        assert kept == {1, 2, 3}
        # default 0 drops the NULL-lang doc; en keeps 3 then the
        # free 0-token doc 2
        kept = {
            r.doc_id
            for r in token_budget_select(
                docs, {"en": 5}, default_budget=0
            ).collect()
        }
        assert kept == {2, 3}


from streetview_naturevisibility_spark.operators.textops import chunk_dedup
from tests.oracle import duckdb_chunk_dedup


def _chunk_corpus(L=20):
    """Docs sharing exact L-char runs at different offsets-multiples,
    within-doc repeats, short docs, tails, empty + NULL text."""
    block_a = "A" * 8 + "quick brown fox!" [: L - 8]
    block_a = (block_a + "x" * L)[:L]
    block_b = ("the shared boiler " * 3)[:L]
    rows = [
        (0, block_a + block_b + "tail0"),          # canonical holder
        (1, block_b + block_a + "t1"),             # both blocks again
        (2, block_a + block_a + block_a),          # within-doc repeats
        (3, "unique little doc"),                  # < L chars: untouched
        (4, ""),                                   # empty
        (5, None),                                 # NULL
        (6, "u" * L + block_b),                    # unique block + shared
    ]
    return rows


@pytest.mark.parametrize(
    "op", ["chunk_dedup", "chunk_dedup_cdc", "span_dedup_c4"]
)
def test_unit_dedup_rejects_string_ids(spark, op):
    """A string id would NULL the packed (id, pos) canonical key and
    silently no-op every kill, so each repeated-unit dedup operator
    rejects it at plan time."""
    from streetview_naturevisibility_spark.operators import textops

    docs = spark.createDataFrame(
        [("a", "One two three four. Five six. Seven. "), ("b", "aaaabbbb")],
        "doc_id: string, text: string",
    )
    with pytest.raises(TypeError, match="integral"):
        getattr(textops, op)(docs)


class TestChunkDedup:
    def test_hand_computed(self, spark):
        L = 4
        docs = spark.createDataFrame(
            [
                (1, "aaaabbbbcc"),   # chunks aaaa,bbbb + tail cc
                (2, "bbbbaaaa"),     # both chunks are dups of doc 1's
                (3, "aaaaaaaa"),     # within-doc repeat of aaaa
            ],
            "doc_id: long, text: string",
        )
        out = {r.doc_id: r for r in chunk_dedup(docs, chunk_chars=L).collect()}
        assert out[1].text_deduped == "aaaabbbbcc"  # canonical survives
        assert out[1].n_removed == 0
        assert out[2].text_deduped == ""            # both chunks cut
        assert out[2].n_removed == 2
        assert out[3].text_deduped == ""            # repeat of doc1's aaaa
        assert out[3].n_removed == 2

    def test_duckdb_twin(self, spark):
        import pandas as pd

        L = 20
        rows = _chunk_corpus(L)
        docs = spark.createDataFrame(rows, "doc_id: long, text: string")
        got = (
            chunk_dedup(docs, chunk_chars=L)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        want = duckdb_chunk_dedup(
            pd.DataFrame(rows, columns=["doc_id", "text"]), chunk_chars=L
        )
        assert list(got["doc_id"]) == list(want["doc_id"])
        for c in ["text_deduped", "n_chunks", "n_removed"]:
            a, b = got[c], want[c]
            assert (a.isna() == b.isna()).all(), c
            assert (a.dropna() == b.dropna()).all(), c

    def test_rebuild_is_lossless_without_dups(self, spark):
        # every aligned 7-char chunk is globally unique BY CONSTRUCTION
        # ({i:02d}{m:02d} prefix); the shared 2-char tail is never
        # hashed, so nothing may be removed
        orig = {
            i: "".join(f"{i:02d}{m:02d}xyz" for m in range(5)) + "tl"
            for i in range(20)
        }
        docs = spark.createDataFrame(
            list(orig.items()), "doc_id: long, text: string"
        )
        out = chunk_dedup(docs, chunk_chars=7).collect()
        assert len(out) == 20
        for r in out:
            assert r.text_deduped == orig[r.doc_id]
            assert r.n_removed == 0 and r.n_chunks == 5


from streetview_naturevisibility_spark.functions.url import (
    normalize_url_col,
    registrable_domain_col,
)
from streetview_naturevisibility_spark.operators.corpus import (
    domain_rollup,
    url_dedup,
)
from tests.oracle import duckdb_url_norm_and_domain


def _url_corpus():
    return [
        (0, "https://Example.COM/a/b/?utm_source=x&q=1&a=2#frag"),
        (1, "https://example.com/a/b?a=2&q=1"),          # alias of 0
        (2, "HTTP://user:pw@Example.com:80/a/b/"),        # alias path
        (3, "https://sub.shop.co.uk/p?ref=tw"),
        (4, "https://shop.co.uk/p"),
        (5, "https://deep.sub.shop.co.uk/p"),
        (6, "https://news.example.org/x?fbclid=abc"),
        (7, "http://localhost/x"),
        (8, None),
        (9, "https://example.com/"),                      # root slash kept
        (10, "https://example.com/?gclid=1"),
        # no parseable scheme://host -> NULL norm (no alias evidence):
        # these three UNRELATED docs must NOT collapse onto each other
        (11, "relative/path/only.html"),
        (12, "example.com/no-scheme"),
        (13, "mailto:someone@example.com"),
    ]


class TestUrlCuration:
    SCHEMA = "doc_id: long, url: string"

    def test_normalize_and_domain_hand(self, spark):
        docs = spark.createDataFrame(_url_corpus(), self.SCHEMA)
        out = {
            r.doc_id: r
            for r in docs.select(
                "doc_id",
                normalize_url_col("url").alias("u"),
                registrable_domain_col("url").alias("d"),
            ).collect()
        }
        assert out[0].u == "https://example.com/a/b?a=2&q=1"
        assert out[1].u == "https://example.com/a/b?a=2&q=1"
        assert out[2].u == "http://example.com/a/b"
        assert out[0].d == "example.com"
        assert out[3].d == "shop.co.uk" and out[5].d == "shop.co.uk"
        assert out[4].d == "shop.co.uk"
        assert out[6].d == "example.org"
        assert out[7].d == "localhost"
        assert out[8].u is None and out[8].d is None
        assert out[9].u == "https://example.com/"
        assert out[10].u == "https://example.com/"
        # malformed URLs: NULL norm + NULL domain, never '://' collapse
        for i in (11, 12, 13):
            assert out[i].u is None and out[i].d is None

    def test_duckdb_twin(self, spark):
        import pandas as pd

        rows = _url_corpus()
        docs = spark.createDataFrame(rows, self.SCHEMA)
        got = (
            docs.select(
                "doc_id",
                normalize_url_col("url").alias("url_norm"),
                registrable_domain_col("url").alias("domain"),
            )
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        want = duckdb_url_norm_and_domain(
            pd.DataFrame(rows, columns=["doc_id", "url"])
        )
        for c in ["url_norm", "domain"]:
            a, b = got[c], want[c]
            assert (a.isna() == b.isna()).all(), c
            assert (a.dropna() == b.dropna()).all(), (c, list(a), list(b))

    def test_url_dedup_and_rollup(self, spark):
        rows = [(i, u, f"body text {i} " * 5) for i, u in _url_corpus()]
        docs = spark.createDataFrame(rows, self.SCHEMA + ", text: string")
        kept = url_dedup(docs)
        ids = {r.doc_id for r in kept.collect()}
        # aliases 0/1 collapse to 0; 9/10 collapse to 9; NULL url kept
        assert 0 in ids and 1 not in ids
        assert 9 in ids and 10 not in ids
        assert 8 in ids
        # unrelated malformed URLs (NULL norm) are ALL kept — the
        # regression the ADVICE empirically demonstrated was 11/12/13
        # collapsing onto one survivor via the shared '://' string
        assert {11, 12, 13} <= ids
        assert "url_norm" in kept.columns
        roll = {r.domain: r for r in domain_rollup(docs).collect()}
        assert roll["example.com"].n_pages == 5  # docs 0,1,2,9,10
        assert roll["example.com"].n_urls == 3   # a/b, a/b(no-?), root
        assert roll["shop.co.uk"].n_pages == 3
        assert roll["localhost"].n_pages == 1
        assert roll[None].n_pages == 4  # NULL url + 3 malformed


# ------------------------------------------------------------------
# chunk_dedup grid-alignment recall boundary (round 6): the fixed
# grid and the content-defined (CDC) variant
# ------------------------------------------------------------------
from streetview_naturevisibility_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_pairs,
)
from streetview_naturevisibility_spark.operators.textops import (  # noqa: E402
    chunk_dedup_cdc,
)
from tests.oracle import duckdb_chunk_dedup_cdc  # noqa: E402

_CA_L = 32
# 60 DISTINCT tokens (no internal repetition — within-doc chunk
# matches would pollute the cross-doc phase measurement)
_CA_PASSAGE = " ".join(f"passagetok{w:03d}" for w in range(60))


def _alignment_corpus(n: int = 36):
    """Doc i = unique prefix (i % L padding chars) + the shared
    passage + unique suffix: passage start phases cover every residue
    mod L roughly uniformly; docs 32..35 repeat phases 0..3."""
    rows = []
    for i in range(n):
        prefix = f"d{i:02d}" + "x" * (i % _CA_L)  # phase = (4 + i) % L
        suffix = f"tail{i:02d} end{i:02d} close{i:02d}"
        rows.append((i, f"{prefix} {_CA_PASSAGE} {suffix}"))
    return rows


class TestChunkAlignment:
    def test_shifted_pass_cannot_change_relative_phase(self, spark):
        """THE measured boundary: the grid only matches repeats whose
        instances share a phase (start offset mod L), and shifting the
        grid moves both instances by the same amount, so no shifted
        pass can help; on all-distinct phases the grid removes ZERO
        chars. The alignment-free path is CDC."""
        rows = _alignment_corpus(32)  # 32 docs, 32 DISTINCT phases
        docs = spark.createDataFrame(rows, "doc_id: long, text: string")
        grid = {
            r.doc_id: r for r in chunk_dedup(docs, chunk_chars=_CA_L).collect()
        }
        # all phases distinct -> no two instances agree mod L -> the
        # grid cannot match ANY passage chunk and leaves texts intact
        for i, text in rows:
            assert grid[i].text_deduped == text, i
            assert grid[i].n_removed == 0, i

    def test_grid_catches_equal_phase_only(self, spark):
        rows = _alignment_corpus(36)  # 32..35 share phases with 0..3
        docs = spark.createDataFrame(rows, "doc_id: long, text: string")
        out = {
            r.doc_id: r for r in chunk_dedup(docs, chunk_chars=_CA_L).collect()
        }
        for i in range(32):
            assert out[i].n_removed == 0, i  # canonical phase instance
        for i in range(32, 36):
            # same phase as doc i-32 -> the passage's interior aligned
            # chunks die; edges (partial chunks) survive
            assert out[i].n_removed >= len(_CA_PASSAGE) // _CA_L - 2, i

    def test_cdc_matches_duckdb_twin_and_is_alignment_free(self, spark):
        rows = _alignment_corpus(12) + [(99, None)]
        docs = spark.createDataFrame(rows, "doc_id: long, text: string")
        got = (
            chunk_dedup_cdc(docs)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        want = duckdb_chunk_dedup_cdc(
            pd.DataFrame(rows, columns=["doc_id", "text"])
        )
        assert list(got["text_deduped"].fillna("~")) == list(
            want["text_deduped"].fillna("~")
        )
        assert list(got["n_removed"]) == list(want["n_removed"])
        assert list(got["n_chunks"]) == list(want["n_chunks"])
        # alignment-free recall: every non-canonical instance loses
        # most of the passage (interior CDC chunks), despite every doc
        # having a DIFFERENT char phase
        by_id = {
            int(r.doc_id): r for _, r in got.iterrows() if r.doc_id != 99
        }
        n_killed_docs = sum(1 for r in by_id.values() if r.n_removed > 0)
        assert n_killed_docs >= 11  # all but the canonical instance
        removed_chars = sum(
            len(t) - len(by_id[i].text_deduped)
            for i, t in _alignment_corpus(12)
        )
        # >= 60% of the duplicated passage budget recovered
        assert removed_chars >= 0.6 * 11 * len(_CA_PASSAGE)

    def test_cdc_no_dups_is_identity(self, spark):
        rows = [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "one two three four five six seven eight nine"),
            (2, ""),
        ]
        docs = spark.createDataFrame(rows, "doc_id: long, text: string")
        out = {r.doc_id: r for r in chunk_dedup_cdc(docs).collect()}
        for i, t in rows:
            assert out[i].text_deduped == t
            assert out[i].n_removed == 0

    def test_minhash_layer_catches_the_docs_grid_misses(self, spark):
        """Doc-granularity recall of the MinHash layer on the same
        phase-mismatched corpus: every doc pair shares the 60-token
        passage (Jaccard ~0.75) and must surface as a near-dup pair."""
        rows = _alignment_corpus(12)
        docs = spark.createDataFrame(rows, "doc_id: long, text: string")
        pairs = minhash_lsh_pairs(
            docs, k=32, bands=8, jaccard_threshold=0.5, hash_method="md5"
        )
        found = {(r.id_a, r.id_b) for r in pairs.collect()}
        expected = {(a, b) for a in range(12) for b in range(a + 1, 12)}
        missing = expected - found
        assert len(missing) <= 2, f"minhash missed {missing}"
