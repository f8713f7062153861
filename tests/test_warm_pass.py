"""Per-process settings that let a warm pass reuse what the session
already did: the generated-code cache holds every class a pass
compiles, and the driver's BLAS runs on one thread."""

import os
import subprocess
import sys

from conftest import SF_DIR

SF_DOCS = os.path.join(SF_DIR, "documents.parquet")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_second_gvi_round_compiles_nothing(
    fixture_dir, run_cli, compiled, tmp_path, capsys
):
    """``pipeline``, ``metrics`` and ``gap-fill`` (both models), twice
    in one session, each round into a fresh ``--out``: the second
    round finds every generated class in the cache."""
    roads = os.path.join(fixture_dir, "roads.parquet")
    grid = os.path.join(fixture_dir, "ndvi_grid.parquet")
    counts = []
    for r in range(2):
        out = str(tmp_path / f"round{r}")
        before = compiled()
        run_cli("pipeline", "--roads", roads,
                "--pages", os.path.join(fixture_dir, "web_pages.parquet"), "--out", out)
        run_cli("metrics", "--roads", roads, "--results", out)
        for model in ("linear", "gam"):
            run_cli("gap-fill", "--results", out, "--ndvi-grid", grid,
                    "--distance", 100.0, "--model", model)
        counts.append(compiled() - before)
    capsys.readouterr()
    assert counts[1] == 0, counts


def test_second_curate_run_compiles_nothing(run_cli, compiled, tmp_path, capsys):
    """``curate`` with DSIR selection and packing, twice in one session:
    the second run compiles no class."""
    counts = []
    for r in range(2):
        before = compiled()
        run_cli("curate", "--docs", SF_DOCS, "--out", tmp_path / f"cur{r}",
                "--min-quality", 0.3, "--dsir-target", SF_DOCS,
                "--dsir-keep", 50, "--pack-tokens", 2048)
        counts.append(compiled() - before)
    capsys.readouterr()
    assert counts[1] == 0, counts


def test_driver_blas_runs_one_thread():
    """With no thread variables set, importing the engine before NumPy
    loads OpenBLAS with one thread: after a matmul the driver process
    still has a single thread."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")}
    env["PYTHONPATH"] = ROOT
    code = (
        "import streetview_naturevisibility_spark.session\n"
        "import numpy as np\n"
        "a = np.random.rand(400, 400)\n"
        "a @ a\n"
        "print([l.split()[1] for l in open('/proc/self/status') if l.startswith('Threads:')][0])\n"
    )
    out = subprocess.run([sys.executable, "-c", code], env=env, cwd=ROOT,
                         capture_output=True, text=True, check=True).stdout
    assert out.strip() == "1"
