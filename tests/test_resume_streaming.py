"""Checkpoint/lineage/resume tests."""

from pyspark.sql import functions as F

from streetview_naturevisibility_spark.operators.resume import (
    read_lineage,
    run_stage,
)


class TestResume:
    def test_run_stage_computes_once(self, spark, tmp_path):
        root = str(tmp_path / "ckpt")
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))

        a = run_stage(spark, root, "stage_a", build)
        assert a.count() == 100
        assert calls["n"] == 1
        # second run: restored from checkpoint, no recompute
        b = run_stage(spark, root, "stage_a", build)
        assert b.count() == 100
        assert calls["n"] == 1

    def test_lineage_records(self, spark, tmp_path):
        root = str(tmp_path / "ckpt2")
        run_stage(spark, root, "s", lambda: spark.range(1000).repartition(4))
        recs = read_lineage(root, "s")
        files = sorted(
            p.name for p in (tmp_path / "ckpt2" / "s" / "data").glob("*.parquet")
        )
        assert [r["file"] for r in recs] == files
        assert sum(r["rows"] for r in recs) == 1000
        for r in recs:
            assert r["stage"] == "s"

    def test_file_uri_root(self, spark, tmp_path, monkeypatch):
        """A ``file:`` URI root resumes like a path: the second run does
        not rebuild, lineage counts the written rows, and nothing lands
        in a relative ``file:`` directory under the working directory."""
        monkeypatch.chdir(tmp_path)
        root = (tmp_path / "ckpt").as_uri()
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return spark.range(300).repartition(3)

        run_stage(spark, root, "s", build)
        out = run_stage(spark, root, "s", build)
        assert calls["n"] == 1
        assert out.count() == 300
        assert sum(r["rows"] for r in read_lineage(root, "s")) == 300
        assert not (tmp_path / "file:").exists()


class TestStreaming:
    def test_partial_write_without_success_recomputes(self, spark, tmp_path):
        """Kill-mid-stage semantics: a stage directory with data files
        but no _SUCCESS marker is treated as absent (parquet commit is
        all-or-nothing), so the rerun recomputes and overwrites."""
        import os as _os

        root = str(tmp_path / "ckpt3")
        data_path = _os.path.join(root, "s", "data")
        run_stage(spark, root, "s", lambda: spark.range(100))
        # simulate a killed write: remove the marker, corrupt row count
        _os.remove(_os.path.join(data_path, "_SUCCESS"))
        calls = {"n": 0}

        def rebuild():
            calls["n"] += 1
            return spark.range(200)

        out = run_stage(spark, root, "s", rebuild)
        assert calls["n"] == 1  # recomputed
        assert out.count() == 200
        # and the marker is back for the next resume
        assert _os.path.exists(_os.path.join(data_path, "_SUCCESS"))
