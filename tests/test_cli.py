"""End-to-end smoke of the spark-submit CLI subcommands over the
fixture tables (pipeline -> metrics -> gap-fill), including resume."""

import os
import shutil

import pytest

from conftest import SF_DIR
from streetview_naturevisibility_spark import cli

SF_DOCS = os.path.join(SF_DIR, "documents.parquet")


class TestCli:
    def test_pipeline_outputs(self, spark, pipeline_out):
        per_road = spark.read.parquet(os.path.join(pipeline_out, "gvi_per_road"))
        gvi = spark.read.parquet(os.path.join(pipeline_out, "gvi_points"))
        assert per_road.count() > 0
        assert gvi.count() > 0
        assert set(per_road.columns) >= {"road_id", "avg_gvi", "total_points"}

    def test_pipeline_resume_reuses_stages(
        self, spark, pipeline_out, run_cli_pipeline, tmp_path
    ):
        """Re-running the same command must resume from checkpoints
        (run_stage compute-once) and produce identical outputs. The
        re-run goes into a copy so the shared pipeline output stays
        untouched."""
        outdir = str(tmp_path / "resumed")
        shutil.copytree(pipeline_out, outdir)
        before = (
            spark.read.parquet(os.path.join(pipeline_out, "gvi_per_road"))
            .orderBy("road_id")
            .collect()
        )
        run_cli_pipeline(outdir)
        after = (
            spark.read.parquet(os.path.join(outdir, "gvi_per_road"))
            .orderBy("road_id")
            .collect()
        )
        assert before == after

    def test_pipeline_ranges_do_not_share_a_checkpoint(
        self, spark, run_cli_pipeline, tmp_path, capsys
    ):
        """--begin/--end slices into one fresh --out accumulate: each
        slice is its own checkpoint (its [lineage] rows are its own),
        and the outputs hold every slice run so far, each point once,
        also after a slice is run again."""
        import re

        outdir = str(tmp_path / "ranges")
        for lo, hi, held in ((0, 20, 20), (20, 40, 40), (20, 40, 40)):
            capsys.readouterr()
            run_cli_pipeline(outdir, "--begin", str(lo), "--end", str(hi))
            gvi = spark.read.parquet(os.path.join(outdir, "gvi_points"))
            assert sorted(r.point_id for r in gvi.collect()) == list(range(held))
            m = re.search(
                rf"\[lineage\] gvi_points_{lo}_{hi}: \d+ files, (\d+) rows",
                capsys.readouterr().out,
            )
            assert m and int(m.group(1)) == hi - lo
            per_road = spark.read.parquet(os.path.join(outdir, "gvi_per_road"))
            assert per_road.agg({"total_points": "sum"}).collect()[0][0] == held

    def test_metrics_and_gap_fill_follow_pipeline_checkpoint(
        self, spark, fixture_dir, pipeline_out, run_cli, run_cli_pipeline,
        tmp_path, capsys,
    ):
        """``pipeline --checkpoint <uri>`` keeps its stages outside
        ``--out``; ``metrics`` and ``gap-fill`` given the same
        ``--checkpoint`` read the sample points from there. The stages
        are copied from the shared run, so the pipeline resumes."""
        ckpt = tmp_path / "ckpt"
        shutil.copytree(os.path.join(pipeline_out, "_ckpt"), ckpt)
        uri = ckpt.as_uri()
        out = run_cli_pipeline(str(tmp_path / "out"), "--checkpoint", uri)
        assert not os.path.exists(os.path.join(out, "_ckpt"))
        run_cli(
            "metrics",
            "--roads", os.path.join(fixture_dir, "roads.parquet"),
            "--results", out,
            "--checkpoint", uri,
        )
        assert "availability score" in capsys.readouterr().out
        run_cli(
            "gap-fill",
            "--results", out,
            "--ndvi-grid", os.path.join(fixture_dir, "ndvi_grid.parquet"),
            "--distance", 100.0,
            "--checkpoint", uri,
        )
        assert "<----- Linear GAM ----->" in capsys.readouterr().out
        assert spark.read.parquet(os.path.join(out, "gvi_filled")).count() > 0

    def test_metrics(self, fixture_dir, pipeline_out, run_cli, capsys):
        run_cli(
            "metrics",
            "--roads", os.path.join(fixture_dir, "roads.parquet"),
            "--results", pipeline_out,
        )
        text = capsys.readouterr().out
        assert "availability score" in text
        assert "top-5 highway types" in text

    def test_gap_fill_prints_model_selection(
        self, spark, fixture_dir, pipeline_out, run_cli, capsys
    ):
        run_cli(
            "gap-fill",
            "--results", pipeline_out,
            "--ndvi-grid", os.path.join(fixture_dir, "ndvi_grid.parquet"),
            "--distance", 100.0,
        )
        text = capsys.readouterr().out
        assert "<----- Linear Regression ----->" in text
        assert "<----- Linear GAM ----->" in text
        assert "RMSE:" in text and "AIC value:" in text
        filled = spark.read.parquet(os.path.join(pipeline_out, "gvi_filled"))
        assert filled.count() > 0
        assert "gvi_filled" in filled.columns

    def test_gap_fill_gam_model_flag(
        self, spark, fixture_dir, pipeline_out, run_cli, capsys
    ):
        run_cli(
            "gap-fill",
            "--results", pipeline_out,
            "--ndvi-grid", os.path.join(fixture_dir, "ndvi_grid.parquet"),
            "--distance", 100.0,
            "--model", "gam",
        )
        capsys.readouterr()
        filled = spark.read.parquet(os.path.join(pipeline_out, "gvi_filled")).toPandas()
        assert len(filled) > 0 and filled["gvi_filled"].notna().any()


    @pytest.mark.parametrize("model", ["linear", "gam"])
    def test_gap_fill_disjoint_raster_warns_not_crashes(
        self, spark, fixture_dir, pipeline_out, run_cli, tmp_path, capsys, model
    ):
        """An NDVI raster that does not overlap the study area at all:
        clean warning + empty output, not a TypeError on None metrics
        (found by the stac-ndvi -> gap-fill integration drive). The gam
        variant guards the eager driver fit: n_known==0 must be caught
        BEFORE gap_fill_gam's toPandas/np.quantile sees an empty array."""
        import pandas as pd

        far = str(tmp_path / "far_grid.parquet")
        pd.DataFrame(
            {
                "cell_x": [0, 1],
                "cell_y": [0, 0],
                "cx": [9e6, 9e6 + 10],
                "cy": [9e6, 9e6],
                "value": [0.5, 0.6],
            }
        ).to_parquet(far, index=False)
        run_cli(
            "gap-fill", "--results", pipeline_out, "--ndvi-grid", far,
            "--distance", 100.0, "--model", model,
        )
        text = capsys.readouterr().out
        assert "WARNING: no points with NDVI values" in text
        assert spark.read.parquet(os.path.join(pipeline_out, "gvi_filled")).count() == 0

    @pytest.mark.parametrize("n", [1, 2, 3])
    def test_gap_fill_few_known_points_warns_not_crashes(
        self, spark, fixture_dir, pipeline_out, run_cli, tmp_path, capsys, n
    ):
        """One to three known points (fewer than the five CV folds):
        both models' CV lines are the degenerate-metrics warning and
        null GAM metrics, not a traceback or a silent ``nan``. The GAM
        fit itself needs two points; on one, ``--model gam`` stops with
        the fit's message and writes nothing."""
        results = str(tmp_path / "few")
        shutil.copytree(os.path.join(pipeline_out, "_ckpt"), os.path.join(results, "_ckpt"))
        gvi = spark.read.parquet(os.path.join(pipeline_out, "gvi_points"))
        gvi.where("gvi IS NOT NULL").orderBy("point_id").limit(n).unionByName(
            gvi.where("gvi IS NULL").orderBy("point_id").limit(5)
        ).write.parquet(os.path.join(results, "gvi_points"))
        filled = os.path.join(results, "gvi_filled")
        argv = ("gap-fill", "--results", results, "--ndvi-grid",
                os.path.join(fixture_dir, "ndvi_grid.parquet"), "--distance", 100.0)
        run_cli(*argv)
        text = capsys.readouterr().out
        assert f"WARNING: CV metrics degenerate (n_known={n};" in text
        assert text.split("<----- Linear GAM ----->")[1].startswith(
            "\nRMSE: None\nAIC value: None\n"
        )
        assert spark.read.parquet(filled).count() == n + 5
        shutil.rmtree(filled)
        if n == 1:
            with pytest.raises(SystemExit, match="n=1 known points"):
                run_cli(*argv, "--model", "gam")
            assert not os.path.exists(filled)
        else:
            run_cli(*argv, "--model", "gam")
            assert spark.read.parquet(filled).where("gvi_filled IS NULL").count() == 0

class TestParser:
    def test_each_handler_reads_exactly_its_options(self):
        """For every subcommand, the ``args.<name>`` its handler reads
        are exactly the options the parser defines for it, plus the
        global ``--master``: no option is parsed and then ignored, and
        no handler reads a name the parser does not default."""
        import argparse
        import ast
        import inspect
        import textwrap

        skip = (argparse._HelpAction, argparse._SubParsersAction)
        parser = cli.build_parser()
        shared = {a.dest for a in parser._actions if not isinstance(a, skip)}
        (subs,) = [
            a for a in parser._actions if isinstance(a, argparse._SubParsersAction)
        ]
        assert len(subs.choices) == 7
        for name, sub in subs.choices.items():
            handler = sub.get_default("fn")
            tree = ast.parse(textwrap.dedent(inspect.getsource(handler)))
            read = {
                n.attr
                for n in ast.walk(tree)
                if isinstance(n, ast.Attribute)
                and isinstance(n.value, ast.Name)
                and n.value.id == "args"
            }
            defined = shared | {
                a.dest for a in sub._actions if not isinstance(a, skip)
            }
            assert read == defined, (name, read ^ defined)

    def test_one_materialization_helper(self):
        """Only ``session.materialize`` stores a frame: no
        ``localCheckpoint``/``checkpoint``/``cache``/``persist`` call
        anywhere else in the package or ``__spark_entry__.py``, and no
        ``StorageLevel`` name outside ``session.py``. ``cmd_curate``
        counts only a frame that helper returned or a frame read
        straight from parquet files (a footer count), never a lineage
        it would have to re-run."""
        import ast
        import inspect
        import pathlib

        pkg = pathlib.Path(cli.__file__).parent
        session_py = pkg / "session.py"
        for path in [*sorted(pkg.rglob("*.py")), pkg.parent / "__spark_entry__.py"]:
            tree = ast.parse(path.read_text())
            inside = set()
            if path == session_py:
                helper = next(
                    n for n in tree.body
                    if isinstance(n, ast.FunctionDef) and n.name == "materialize"
                )
                inside = set(map(id, ast.walk(helper)))
            stores = [
                (n.func.attr, n.lineno)
                for n in ast.walk(tree)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("localCheckpoint", "checkpoint", "cache", "persist")
                and id(n) not in inside
            ]
            assert not stores, (str(path), stores)
            levels = [
                n.lineno
                for n in ast.walk(tree)
                if "StorageLevel" in (
                    getattr(n, "id", None), getattr(n, "attr", None),
                    n.name if isinstance(n, ast.alias) else None,
                )
            ]
            assert path == session_py or not levels, (str(path), levels)

        tree = ast.parse(inspect.getsource(cli))
        funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}

        def is_parquet_read(node):
            # spark.read.parquet(...), or resume.read_parquet(spark, ...),
            # the same read with the footer's schema
            return isinstance(node, ast.Call) and (
                isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and ast.unparse(node.func.value) == "spark.read"
                or getattr(node.func, "id", None) == "read_parquet"
            )

        curate = funcs["cmd_curate"]
        binds = []  # (line, name, bound by materialize or a parquet read)
        for n in ast.walk(curate):
            if isinstance(n, ast.Assign):
                for t in n.targets:
                    helper = (
                        isinstance(n.value, ast.Call)
                        and getattr(n.value.func, "id", None) == "materialize"
                    )
                    name = t.elts[0] if helper else t
                    if isinstance(name, ast.Name):
                        binds.append(
                            (n.lineno, name.id, helper or is_parquet_read(n.value))
                        )
        counts = [
            n
            for n in ast.walk(curate)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "count"
            and not n.args
        ]
        assert counts
        for c in counts:
            recv = c.func.value
            if is_parquet_read(recv):
                continue
            assert isinstance(recv, ast.Name), ast.unparse(c)
            last = max(b for b in binds if b[1] == recv.id and b[0] < c.lineno)
            assert last[2], (ast.unparse(c), c.lineno)


class TestCurate:
    def test_curate_funnel(self, spark, run_cli, tmp_path, capsys):
        """Curation funnel over the sf0.001 documents table: counts are
        monotone non-increasing, exact duplicates are gone, the output
        parquet is readable, and the LSH drop metrics are printed."""
        out = str(tmp_path / "cur")
        run_cli(
            "curate",
            "--docs", SF_DOCS,
            "--out", out,
            "--min-quality", 0.3,
            "--jaccard", 0.5,
            "--max-bucket", 10_000,
            "--sample", "en=0.5,de=1.0,es=1.0,fr=1.0,zh=1.0",
            "--default-rate", 1.0,
        )
        text = capsys.readouterr().out
        assert "[lsh] buckets=" in text
        assert "[curate] in=" in text
        import re

        m = re.search(
            r"in=(\d+) quality>=[\d.]+: (\d+) exact-dedup: (\d+) "
            r"near-dedup: (\d+) sampled: (\d+)",
            text,
        )
        assert m, text
        n_in, n_q, n_ex, n_near, n_s = map(int, m.groups())
        assert n_in >= n_q >= n_ex >= n_near >= n_s
        assert n_s > 0
        cur = spark.read.parquet(os.path.join(out, "curated"))
        assert cur.count() == n_s
        # no exact duplicates survive
        from pyspark.sql import functions as F

        assert (
            cur.groupBy(F.md5("text")).count().where("count > 1").count() == 0
        )
        assert "weight" in cur.columns

    def test_cc_algorithm_flag_reaches_clustering(
        self, spark, run_cli, tmp_path, monkeypatch, capsys
    ):
        """``curate --cc-algorithm star`` must run the star kernel, not
        the propagation default."""
        import pandas as pd

        docs = str(tmp_path / "docs.parquet")
        text = "the quick brown fox jumps over the lazy dog again and again"
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [text, text + " today", "spark engines shuffle data"],
                "lang": ["en", "en", "en"],
                "source": ["t", "t", "t"],
                "n_chars": [len(text), len(text) + 6, 26],
            }
        ).to_parquet(docs, index=False)
        seen = []
        real = cli.duplicate_clusters

        def spy(pairs, *args, **kwargs):
            seen.append(kwargs.get("algorithm"))
            return real(pairs, *args, **kwargs)

        monkeypatch.setattr(cli, "duplicate_clusters", spy)
        run_cli(
            "curate", "--docs", docs, "--out", tmp_path / "cur",
            "--min-quality", 0, "--cc-algorithm", "star",
        )
        capsys.readouterr()
        assert seen == ["star"]

    def test_each_doc_is_analyzed_once(
        self, spark, run_cli, tmp_path, monkeypatch, capsys
    ):
        """Every funnel stage reads a materialized boundary, never the
        lineage above it: ``analyze_documents``' input text passes
        through a counting identity UDF, which must see each input doc
        exactly once per run — with the benchmark's flags (DSIR +
        packing) and with a repetition gate and unpacked output."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F

        rng = np.random.RandomState(5)
        voc = ["apple", "banana", "cherry", "date", "elder", "fig", "grape"]
        texts = [" ".join(voc[j] for j in rng.randint(0, 7, size=30)) for _ in range(30)]
        texts[3] = texts[2]  # exact duplicate
        texts[7] = "spam line\n" * 20  # repetitive
        docs = str(tmp_path / "docs.parquet")
        pd.DataFrame(
            {
                "doc_id": list(range(30)),
                "text": texts,
                "lang": ["en"] * 30,
                "source": ["t"] * 30,
                "n_chars": [len(t) for t in texts],
            }
        ).to_parquet(docs, index=False)
        seen = spark.sparkContext.accumulator(0)

        @F.pandas_udf("string")
        def count_rows(s: pd.Series) -> pd.Series:
            seen.add(len(s))
            return s

        real = cli.analyze_documents

        def counting(df, *args, **kwargs):
            return real(df.withColumn("text", count_rows("text")), *args, **kwargs)

        monkeypatch.setattr(cli, "analyze_documents", counting)
        for i, flags in enumerate((
            ("--dsir-target", docs, "--dsir-keep", 10, "--pack-tokens", 64),
            ("--max-dup-line-frac", 0.5),
        )):
            seen.value = 0
            out = str(tmp_path / f"cur{i}")
            run_cli("curate", "--docs", docs, "--out", out, "--min-quality", 0, *flags)
            assert "[curate] in=30" in capsys.readouterr().out
            assert spark.read.parquet(os.path.join(out, "curated")).count() > 0
            assert seen.value == 30, (flags, seen.value)

    def test_lm_filter_keeps_unscorable_short_docs(
        self, spark, run_cli, tmp_path, capsys
    ):
        """--lm-ref must KEEP docs too short to score (<2 tokens, NULL
        mean_logprob) per score_bigram_logprob's contract, and print
        the kept-unscorable count — not silently drop them (review
        finding). min_logprob=0 makes every SCORED doc fail (log-probs
        are always negative), so only the single-token doc survives."""
        import pandas as pd

        docs = str(tmp_path / "docs.parquet")
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "hello",  # 1 token -> no bigrams -> unscorable
                    "the quick brown fox jumps over the lazy dog today",
                    "a completely different sentence about spark engines",
                ],
                "lang": ["en", "en", "en"],
                "source": ["t", "t", "t"],
                "n_chars": [5, 49, 51],
            }
        ).to_parquet(docs, index=False)
        out = str(tmp_path / "cur")
        run_cli(
            "curate",
            "--docs", docs,
            "--out", out,
            "--min-quality", 0.0,
            "--jaccard", 0.5,
            "--max-bucket", 10_000,
            "--default-rate", 1.0,
            "--lm-ref", docs,
            "--min-logprob", 0.0,
        )
        text = capsys.readouterr().out
        assert "[lm] kept 1 unscorable docs" in text
        cur = spark.read.parquet(os.path.join(out, "curated"))
        assert [r.doc_id for r in cur.collect()] == [1]


    def test_para_dedup_and_repetition_filter(self, spark, run_cli, tmp_path, capsys):
        """--para-dedup strips corpus-wide boilerplate paragraphs before
        scoring; --max-top2gram-frac drops the repetitive doc (Gopher
        axis). Both print their stage lines and the funnel stays
        monotone."""
        import pandas as pd

        boiler = "subscribe to our newsletter today for more updates"
        rows = []
        for i in range(8):
            body = " ".join(f"word{i}x{j} token{(i * 7 + j) % 11}" for j in range(30))
            rows.append((i, body + "\n\n" + boiler))
        rows.append((100, "spam ham " * 40))
        docs = str(tmp_path / "docs.parquet")
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": ["t"] * len(rows),
                "n_chars": [len(r[1]) for r in rows],
            }
        ).to_parquet(docs, index=False)
        out = str(tmp_path / "cur")
        run_cli(
            "curate",
            "--docs", docs,
            "--out", out,
            "--min-quality", 0.0,
            "--jaccard", 0.5,
            "--max-bucket", 10_000,
            "--default-rate", 1.0,
            "--para-dedup",
            "--max-top2gram-frac", 0.5,
        )
        text = capsys.readouterr().out
        assert "[para] removed=8 boilerplate paragraph instances" in text
        assert "[rep] dropped=1 repetitive docs" in text
        cur = spark.read.parquet(os.path.join(out, "curated"))
        got = {r.doc_id: r.text for r in cur.collect()}
        assert set(got) == set(range(8))  # spam doc gone
        assert all(boiler not in t for t in got.values())


    def test_token_budget_stage(self, spark, run_cli, tmp_path, capsys):
        """--token-budget fills each predicted language's budget with
        its best docs and prints the per-lang token mix."""
        import pandas as pd

        rows = []
        for i in range(12):
            body = " ".join(
                f"word{i}x{j} the and of to {j}" for j in range(10 + i)
            )
            rows.append((i, body))
        docs = str(tmp_path / "docs.parquet")
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": ["t"] * len(rows),
                "n_chars": [len(r[1]) for r in rows],
            }
        ).to_parquet(docs, index=False)
        out = str(tmp_path / "cur")
        run_cli(
            "curate",
            "--docs", docs,
            "--out", out,
            "--min-quality", 0.0,
            "--jaccard", 0.5,
            "--max-bucket", 10_000,
            "--default-rate", 1.0,
            "--token-budget", "en=200",
            "--budget-default", 0,
        )
        text = capsys.readouterr().out
        assert "[budget] tokens kept per lang: en=" in text
        cur = spark.read.parquet(os.path.join(out, "curated"))
        total = sum(r.n_tokens for r in cur.select("n_tokens").collect())
        assert 0 < total <= 200

    def test_chunk_dedup_stage(self, spark, run_cli, tmp_path, capsys):
        """--chunk-dedup cuts repeated L-char chunks from all but the
        first doc before scoring."""
        import pandas as pd

        shared = "0123456789abcdefghij" * 2  # 40 chars = one L=40 chunk
        rows = []
        for i in range(6):
            body = " ".join(f"word{i}x{j} tok{(i * 5 + j) % 13}" for j in range(25))
            rows.append((i, shared + body))
        docs = str(tmp_path / "docs.parquet")
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": ["t"] * len(rows),
                "n_chars": [len(r[1]) for r in rows],
            }
        ).to_parquet(docs, index=False)
        out = str(tmp_path / "cur")
        run_cli(
            "curate",
            "--docs", docs,
            "--out", out,
            "--min-quality", 0.0,
            "--jaccard", 0.5,
            "--max-bucket", 10_000,
            "--default-rate", 1.0,
            "--chunk-dedup", 40,
        )
        text = capsys.readouterr().out
        assert "[chunk] removed=5 duplicated 40-char chunk instances" in text
        cur = spark.read.parquet(os.path.join(out, "curated"))
        got = {r.doc_id: r.text for r in cur.collect()}
        assert sum(1 for t in got.values() if t.startswith(shared)) == 1

    def test_chunk_dedup_cdc_stage(self, spark, run_cli, tmp_path, capsys):
        """--chunk-dedup-cdc cuts a repeated passage planted at a
        DIFFERENT token offset in every doc — the case the aligned
        grid provably misses (BENCH/BASELINE.md recall table)."""
        import pandas as pd

        passage = " ".join(f"sharedtok{j:02d}" for j in range(24))
        rows = []
        for i in range(6):
            prefix = " ".join(f"pre{i}x{j}" for j in range(i + 1))
            suffix = f"suf{i}a suf{i}b"
            rows.append((i, f"{prefix} {passage} {suffix}"))
        docs = str(tmp_path / "docs.parquet")
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": ["t"] * len(rows),
                "n_chars": [len(r[1]) for r in rows],
            }
        ).to_parquet(docs, index=False)
        out = str(tmp_path / "cur")
        run_cli(
            "curate",
            "--docs", docs,
            "--out", out,
            "--min-quality", 0.0,
            "--jaccard", 0.99,
            "--max-bucket", 10_000,
            "--default-rate", 1.0,
            "--chunk-dedup-cdc", 8,
        )
        text = capsys.readouterr().out
        assert "[chunk-cdc] removed=" in text
        cur = spark.read.parquet(os.path.join(out, "curated"))
        got = {r.doc_id: r.text for r in cur.collect()}
        # the passage survives in exactly one doc's full form; the
        # other five lost their interior content-defined chunks
        n_full = sum(1 for t in got.values() if passage in t)
        assert n_full == 1, got
        assert all(f"suf{i}a" in got[i] for i in range(6))  # edges kept

    def test_dsir_stage_keeps_target_like_docs(self, spark, run_cli, tmp_path, capsys):
        """--dsir-target/--dsir-keep: after dedup, the kept docs are the
        most target-like by hashed-n-gram importance weight — the
        in-domain docs all outrank the out-of-domain ones."""
        import pandas as pd

        voc_a = ["apple", "banana", "cherry", "date", "elder", "fig"]
        voc_b = ["quark", "lepton", "boson", "gluon", "meson", "hadron"]
        import numpy as np

        rng = np.random.RandomState(3)
        rows = []
        for i in range(20):
            voc = voc_a if i < 10 else voc_b
            rows.append((i, " ".join(voc[j] for j in rng.randint(0, 6, size=25))))
        docs = str(tmp_path / "docs.parquet")
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": ["t"] * len(rows),
                "n_chars": [len(r[1]) for r in rows],
            }
        ).to_parquet(docs, index=False)
        target = str(tmp_path / "target.parquet")
        pd.DataFrame(
            {
                "doc_id": list(range(5)),
                "text": [
                    " ".join(voc_a[j] for j in rng.randint(0, 6, size=20))
                    for _ in range(5)
                ],
            }
        ).to_parquet(target, index=False)
        out = str(tmp_path / "cur")
        run_cli(
            "curate",
            "--docs", docs,
            "--out", out,
            "--min-quality", 0.0,
            "--jaccard", 0.99,
            "--max-bucket", 10_000,
            "--default-rate", 1.0,
            "--dsir-target", target,
            "--dsir-keep", 10,
            "--dsir-buckets", 512,
        )
        text = capsys.readouterr().out
        assert "[dsir] kept=10 of " in text
        cur = spark.read.parquet(os.path.join(out, "curated"))
        kept = sorted(r.doc_id for r in cur.collect())
        assert kept == list(range(10))  # exactly the in-domain docs
        assert "dsir_logweight" not in cur.columns

    def test_semdedup_stage_drops_embedding_near_dups(
        self, spark, run_cli, tmp_path, capsys
    ):
        """--semdedup: of a pair of docs with identical embeddings the
        lower doc_id survives; docs with no embedding row are kept."""
        import numpy as np
        import pandas as pd

        rng = np.random.RandomState(9)

        def unit(v):
            return [float(x) for x in v / np.sqrt((v**2).sum())]

        rows = []
        for i in range(6):
            body = " ".join(f"word{i}x{j} tok{(i * 5 + j) % 13}" for j in range(25))
            rows.append((i, body))
        docs = str(tmp_path / "docs.parquet")
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": ["t"] * len(rows),
                "n_chars": [len(r[1]) for r in rows],
            }
        ).to_parquet(docs, index=False)
        base = rng.randn(8)
        emb = pd.DataFrame(
            {
                # docs 0 and 1 share an embedding; 2-4 distinct; 5 has
                # NO embedding row
                "vec_id": [0, 1, 2, 3, 4],
                "embedding": [
                    unit(base),
                    unit(base),
                    unit(rng.randn(8)),
                    unit(rng.randn(8)),
                    unit(rng.randn(8)),
                ],
            }
        )
        embp = str(tmp_path / "emb.parquet")
        spark.createDataFrame(
            [(int(r.vec_id), r.embedding) for r in emb.itertuples()],
            "vec_id bigint, embedding array<double>",
        ).write.mode("overwrite").parquet(embp)
        out = str(tmp_path / "cur")
        run_cli(
            "curate",
            "--docs", docs,
            "--out", out,
            "--min-quality", 0.0,
            "--jaccard", 0.99,
            "--max-bucket", 10_000,
            "--default-rate", 1.0,
            "--semdedup", embp,
            "--semdedup-threshold", 0.95,
            "--semdedup-lists", 4,
            "--semdedup-dim", 8,
        )
        text = capsys.readouterr().out
        assert "[semdedup] dropped=1 semantic near-dups" in text
        cur = spark.read.parquet(os.path.join(out, "curated"))
        kept = sorted(r.doc_id for r in cur.collect())
        assert kept == [0, 2, 3, 4, 5]  # 1 dropped; unembedded 5 kept

    def test_clf_gate_drops_off_domain_docs(self, spark, run_cli, tmp_path, capsys):
        """--clf-ref: the trained classifier gate keeps the
        reference-like half of the corpus and drops the rest."""
        import numpy as np
        import pandas as pd

        voc_a = ["apple", "banana", "cherry", "date", "elder", "fig"]
        voc_b = ["quark", "lepton", "boson", "gluon", "meson", "hadron"]
        rng = np.random.RandomState(7)
        rows = []
        for i in range(24):
            voc = voc_a if i < 12 else voc_b
            rows.append((i, " ".join(voc[j] for j in rng.randint(0, 6, size=20))))
        docs = str(tmp_path / "docs.parquet")
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": ["t"] * len(rows),
                "n_chars": [len(r[1]) for r in rows],
            }
        ).to_parquet(docs, index=False)
        # positives must outweigh the reference-like docs that leak
        # into the negative sample (negatives are a sample of the
        # corpus ITSELF — the published setup's documented caveat)
        ref = str(tmp_path / "ref.parquet")
        pd.DataFrame(
            {
                "doc_id": list(range(60)),
                "text": [
                    " ".join(voc_a[j] for j in rng.randint(0, 6, size=18))
                    for _ in range(60)
                ],
            }
        ).to_parquet(ref, index=False)
        out = str(tmp_path / "cur")
        run_cli(
            "curate",
            "--docs", docs,
            "--out", out,
            "--min-quality", 0.0,
            "--jaccard", 0.99,
            "--max-bucket", 10_000,
            "--default-rate", 1.0,
            "--clf-ref", ref,
            "--clf-min-prob", 0.5,
            "--clf-train-n", 100,
        )
        text = capsys.readouterr().out
        assert "[clf] dropped=12 below P(reference-like) 0.5" in text
        cur = spark.read.parquet(os.path.join(out, "curated"))
        assert sorted(r.doc_id for r in cur.collect()) == list(range(12))

    def test_fix_text_stage_repairs_before_dedup(
        self, spark, run_cli, tmp_path, capsys
    ):
        """--fix-text runs FIRST: two docs identical except one is
        mojibake-encoded collapse in exact dedup after repair."""
        import pandas as pd

        body = "café crème " + " ".join(
            f"tok{j}" for j in range(30)
        )
        moji = body.encode("utf-8").decode("latin-1")
        assert moji != body
        rows = [(0, body), (1, moji)]
        for i in range(2, 8):
            rows.append(
                (i, " ".join(f"word{i}x{j}" for j in range(30)))
            )
        docs = str(tmp_path / "docs.parquet")
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": ["t"] * len(rows),
                "n_chars": [len(r[1]) for r in rows],
            }
        ).to_parquet(docs, index=False)
        out = str(tmp_path / "cur")
        run_cli(
            "curate",
            "--docs", docs,
            "--out", out,
            "--min-quality", 0.0,
            "--jaccard", 0.99,
            "--max-bucket", 10_000,
            "--default-rate", 1.0,
            "--fix-text",
        )
        text = capsys.readouterr().out
        assert "[fix] repaired=1 docs" in text
        cur = spark.read.parquet(os.path.join(out, "curated"))
        kept = sorted(r.doc_id for r in cur.collect())
        assert kept == [0, 2, 3, 4, 5, 6, 7]  # mojibake twin deduped away
        got0 = {r.doc_id: r.text for r in cur.collect()}[0]
        assert got0 == body

    def test_pack_tokens_stage_outputs_training_rows(
        self, spark, run_cli, tmp_path, capsys
    ):
        """--pack-tokens: the curated output becomes fixed-budget
        training rows; total tokens and doc count are conserved."""
        import pandas as pd

        rows = []
        for i in range(12):
            rows.append((i, " ".join(f"w{i}x{j}" for j in range(25))))
        docs = str(tmp_path / "docs.parquet")
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": ["t"] * len(rows),
                "n_chars": [len(r[1]) for r in rows],
            }
        ).to_parquet(docs, index=False)
        out = str(tmp_path / "cur")
        run_cli(
            "curate",
            "--docs", docs,
            "--out", out,
            "--min-quality", 0.0,
            "--jaccard", 0.99,
            "--max-bucket", 10_000,
            "--default-rate", 1.0,
            "--pack-tokens", 60,
        )
        text = capsys.readouterr().out
        assert "[pack] budget=60 tokens/row" in text
        cur = spark.read.parquet(os.path.join(out, "curated"))
        rows_out = cur.collect()
        assert set(cur.columns) == {"bin_id", "packed_text", "n_docs", "n_tokens"}
        assert sum(r.n_docs for r in rows_out) == 12
        assert sum(r.n_tokens for r in rows_out) == 12 * 25
        # 12 docs x 25 tokens at 60/row -> bins of 2-3 docs
        assert len(rows_out) == 5  # floor packing: 300 tokens / 60

    def test_kitchen_sink_funnel_composes_all_stages(
        self, spark, run_cli, tmp_path, capsys
    ):
        """EVERY curate stage in one invocation: fix-text, decontam,
        para-dedup, chunk-dedup, repetition filter, LM filter,
        classifier gate, semdedup, DSIR select, stratified sample,
        token budget, packing. The assertion is compositional: each
        stage prints its line, the funnel stays monotone, and the
        final output is packed training rows."""
        import numpy as np
        import pandas as pd

        rng = np.random.RandomState(99)
        voc = ["apple", "banana", "cherry", "date", "elder", "fig",
               "grape", "melon"]
        boiler = "subscribe to our newsletter now for more"
        bench_gram = " ".join(f"b{i}" for i in range(13))
        rows = []
        for i in range(40):
            body = " ".join(voc[j] for j in rng.randint(0, 8, size=40))
            if i == 5:
                body = f"lead {bench_gram} tail " + body  # contaminated
            if i == 9:
                body = "spam ham " * 40  # repetitive
            rows.append((i, body + "\n\n" + boiler))
        docs = str(tmp_path / "docs.parquet")
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": ["t"] * len(rows),
                "n_chars": [len(r[1]) for r in rows],
            }
        ).to_parquet(docs, index=False)
        ref = str(tmp_path / "ref.parquet")
        pd.DataFrame(
            {
                "doc_id": list(range(50)),
                "text": [
                    " ".join(voc[j] for j in rng.randint(0, 8, size=30))
                    for _ in range(50)
                ],
            }
        ).to_parquet(ref, index=False)
        blk = str(tmp_path / "blk.parquet")
        pd.DataFrame({"doc_id": [0], "text": [f"x {bench_gram} y"]}).to_parquet(
            blk, index=False
        )

        def unit(v):
            return [float(x) for x in v / np.sqrt((v**2).sum())]

        base_vec = rng.randn(8)
        emb_rows = []
        for i in range(40):
            # docs 2 and 3 share an embedding -> semdedup drops 3
            v = base_vec if i in (2, 3) else rng.randn(8)
            emb_rows.append((i, unit(np.asarray(v, dtype=np.float64))))
        embp = str(tmp_path / "emb.parquet")
        spark.createDataFrame(
            emb_rows, "vec_id bigint, embedding array<double>"
        ).write.mode("overwrite").parquet(embp)

        out = str(tmp_path / "cur")
        run_cli(
            "curate",
            "--docs", docs,
            "--out", out,
            "--min-quality", 0.0,
            "--jaccard", 0.8,
            "--max-bucket", 10_000,
            "--sample", "en=1.0",
            "--default-rate", 1.0,
            "--fix-text",
            "--blocklist", blk,
            "--decontam-n", 13,
            "--para-dedup",
            "--para-max-docs", 1,
            "--para-min-chars", 0,
            "--chunk-dedup", 40,
            "--max-top2gram-frac", 0.5,
            "--lm-ref", ref,
            "--min-logprob", -20.0,
            "--clf-ref", ref,
            "--clf-min-prob", 0.01,
            "--clf-train-n", 50,
            "--semdedup", embp,
            "--semdedup-threshold", 0.95,
            "--semdedup-lists", 4,
            "--semdedup-dim", 8,
            "--dsir-target", ref,
            "--dsir-keep", 20,
            "--dsir-buckets", 512,
            # stopword-free fruit vocab language-IDs as "de" (the
            # zero-score tie-fold default) — budget that stratum
            "--token-budget", "de=400",
            "--budget-default", 0,
            "--pack-tokens", 64,
        )
        text = capsys.readouterr().out
        for tag in ("[fix]", "[decontam]", "[para]", "[chunk]", "[rep]",
                    "[clf]", "[semdedup]", "[dsir]", "[budget]", "[pack]",
                    "[lsh]", "[curate]"):
            assert tag in text, f"missing stage line {tag}\n{text}"
        assert "[decontam] dropped=1" in text  # doc 5
        assert "[semdedup] dropped=1" in text  # doc 3 (2's twin)
        cur = spark.read.parquet(os.path.join(out, "curated"))
        assert set(cur.columns) == {
            "bin_id", "packed_text", "n_docs", "n_tokens"
        }
        assert cur.count() > 0
        assert cur.agg({"n_tokens": "sum"}).collect()[0][0] <= 400

    def test_dsir_target_requires_keep(self, run_cli, tmp_path):
        with pytest.raises(SystemExit, match="dsir-keep"):
            run_cli(
                "curate",
                "--docs", SF_DOCS,
                "--out", tmp_path / "cur",
                "--min-quality", 0.0,
                "--jaccard", 0.5,
                "--max-bucket", 10_000,
                "--default-rate", 1.0,
                "--dsir-target", SF_DOCS,
            )


class TestLayout:
    def test_layout_subcommand(self, spark, run_cli, tmp_path):
        from streetview_naturevisibility_spark.sources import derived as D

        src = str(tmp_path / "src")
        D.spark_pages(spark, "/root/testdata/sf0.001").select(
            "doc_id", "tile_x", "tile_y"
        ).write.parquet(src)
        out = str(tmp_path / "z")
        run_cli(
            "layout", "--input", src, "--out", out,
            "--x-col", "tile_x", "--y-col", "tile_y", "--num-files", 4,
        )
        got = spark.read.parquet(out)
        assert "_morton" in got.columns
        assert got.count() == spark.read.parquet(src).count()
