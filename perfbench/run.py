"""End-to-end benchmark of the svnv-spark CLI.

    python3 perfbench/run.py --workload gvi_sparse_gapfill --seed 1 --seconds 16 --trace 0

Runs one workload in this process: one client, closed loop (the next
pass starts when the previous one has finished), a fixed local[2]
session. Set-up (session start, seeded input generation, one warm-up
pass) is excluded from the timed window. Each pass calls the CLI entry
points in-process, each into a fresh out dir, and every pass's output is
checked after the window. With ``--trace 1`` the untraced window is
followed by one traced pass (see layers.py) and the per-layer metrics
replace the end-to-end ones. The last stdout line is one JSON object;
the exit code is non-zero when any CLI call raised or failed its check.
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

CORES = 2
MASTER = f"local[{CORES}]"
# The window runs at least this many passes, so a slow host never
# reports the first pass alone (it still pays for JIT compilation).
MIN_PASSES = 2
# Driver JVM settings that keep runs comparable on a shared host:
# - a fixed 1 GB heap (-Xms = -Xmx): G1 otherwise grows the heap at a
#   pace set by GC timing, and peak_rss_mb wandered by +-15% between
#   runs (with a fixed 2 GB heap, by 12%: not every run touches all of
#   it); a 1 GB heap is touched in full during warm-up, so peak_rss_mb
#   moves with the Python processes, Arrow buffers, classes and code,
#   and a change that needs more heap fails;
# - a 512 MB code cache: at the 240 MB default the C2 compiler kept
#   recompiling and took ~40% of every pass's CPU (10 of 26 s on a
#   4-vCPU VM); at 512 MB the second pass spent ~4 s in it;
# - two GC threads, not one per host core, so parallel GC phases do not
#   spin on cores that other work holds.
DRIVER_MEM = "1g"
JVM_OPTS = [f"-Xms{DRIVER_MEM}", "-XX:ReservedCodeCacheSize=512m", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]
# Why each workload: see README.md. Sizes keep a warm pass at about
# twelve seconds on a 4-core host. ``warmup_shrink``: the warm-up pass
# runs on inputs this many times smaller. What a cold process pays first
# (class loading, plan code generation, Python worker start) depends on
# the plans, not the data, so curation warms up on 400 docs; the GVI
# pass keeps speeding up (JIT) after a small warm-up, so it warms up on
# its full inputs.
WORKLOADS = {
    "gvi_sparse_gapfill": {"roads": 1_000, "pages": 1_000, "warmup_shrink": 1},
    "curate_funnel": {"docs": 4_000, "warmup_shrink": 10},
}
METRIC_HEADERS = (
    "gvi-streets (per-road):", "missing images:", "panoramic images:",
    "availability score:", "usability score:", "top-5 highway types by image count:",
)


def process_start() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def prepare_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let the Python
    workers import the package. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata file in /tmp from the launcher JVM (driver: see below)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def start_session(work: str, trace: bool):
    from streetview_naturevisibility_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": " ".join(
            ["-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *JVM_OPTS]
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    t0 = time.time()
    spark = get_spark(app_name="svnv-perfbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.time() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for every process this
    run started (JVM, Python daemon, workers) to exit."""
    import proctree

    pids = proctree.tree()
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=30)
        except Exception:
            jvm.kill()
            jvm.wait()
    proctree.reap(pids)


def call_cli(argv: list[str]) -> tuple[bool, str]:
    """``svnv-spark <argv>`` in-process; stdout is captured."""
    from streetview_naturevisibility_spark import cli

    buf = io.StringIO()
    saved = sys.argv
    sys.argv = ["svnv-spark", "--master", MASTER, *argv]
    try:
        with contextlib.redirect_stdout(buf):
            cli.main()
        return True, buf.getvalue()
    except (Exception, SystemExit):
        return False, buf.getvalue() + traceback.format_exc()
    finally:
        sys.argv = saved


# ---------------------------------------------------------- workloads

def make_inputs(name: str, seed: int, d: str, shrink: int = 1) -> dict:
    import inputs

    w = WORKLOADS[name]
    if name == "curate_funnel":
        return inputs.curate_inputs(d, seed, w["docs"] // shrink)
    return inputs.gvi_inputs(d, seed, w["roads"] // shrink, w["pages"] // shrink)


def primary_rows(name: str, data: dict) -> int:
    t = data["truth"]
    return t["n_docs"] if name == "curate_funnel" else t["n_pages"]


def cli_pass(name: str, data: dict, out: str) -> list[dict]:
    """One pass of the workload's CLI commands; one record per call."""
    import proctree
    from inputs import GAPFILL_DISTANCE, PACK_TOKENS

    p = data["paths"]
    if name == "curate_funnel":
        calls = [("curate", ["curate", "--docs", p["docs"], "--out", out,
                             "--dsir-target", p["target"], "--dsir-keep", str(data["truth"]["dsir_keep"]),
                             "--pack-tokens", str(PACK_TOKENS)])]
    else:
        calls = [
            ("pipeline", ["pipeline", "--roads", p["roads"], "--pages", p["pages"], "--out", out]),
            ("metrics", ["metrics", "--roads", p["roads"], "--results", out]),
            ("gap-fill", ["gap-fill", "--results", out, "--ndvi-grid", p["ndvi_grid"],
                          "--distance", str(GAPFILL_DISTANCE), "--model", "gam"]),
        ]
    records = []
    for command, argv in calls:
        cpu0, t0 = proctree.cpu_seconds(), time.time()
        ok, stdout = call_cli(argv)
        records.append({"command": command, "ok": ok, "stdout": stdout, "out": out,
                        "wall": time.time() - t0, "cpu": proctree.cpu_seconds() - cpu0})
    return records


def traced_pass(name: str, data: dict, out: str, tracer) -> list[dict]:
    """The traced twin of ``cli_pass``."""
    import layers

    p, truth = data["paths"], data["truth"]
    records = []

    def run(command, fn):
        record = {"command": command, "ok": True, "stdout": "", "out": out}
        try:
            result = fn()
        except Exception:
            record.update(ok=False, stdout=traceback.format_exc())
        else:
            record["counts" if isinstance(result, dict) else "stdout"] = result or ""
        records.append(record)

    if name == "curate_funnel":
        run("curate", lambda: layers.curate(tracer, p["docs"], p["target"], truth["dsir_keep"], out, truth["dup_ids"]))
    else:
        run("pipeline", lambda: layers.pipeline(tracer, p["roads"], p["pages"], out))
        run("metrics", lambda: layers.metrics(tracer, p["roads"], out))
        run("gap-fill", lambda: layers.gap_fill(tracer, out, p["ndvi_grid"]))
    return records


def check(record: dict, truth: dict) -> list[str]:
    """Failures of one CLI call: the exception it raised, or what its
    output check found wrong."""
    import checks

    if not record["ok"]:
        return [f"{record['command']} raised:\n{record['stdout']}"]
    command, out, stdout = record["command"], record["out"], record["stdout"]
    try:
        if command == "pipeline":
            return checks.check_pipeline(out, truth)
        if command == "metrics":
            return [f"metrics printout lacks {h!r}" for h in METRIC_HEADERS if h not in stdout]
        if command == "gap-fill":
            return checks.check_gap_fill(out, truth)
        counts = record.get("counts") or checks.parse_funnel(stdout)
        return checks.check_curate(out, counts, truth)
    except Exception:
        return [f"{command} output check raised:\n{traceback.format_exc()}"]


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (/proc/stat); a diagnostic of a shared host."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / (1024.0 * 1024.0)


# -------------------------------------------------------------- main

def run(args: argparse.Namespace, work: str) -> tuple[dict, int, int, list[str]]:
    import proctree

    started = process_start()
    prepare_environment(work)
    spark, session_s = start_session(work, bool(args.trace))
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        data = make_inputs(args.workload, args.seed, os.path.join(work, "inputs"))
        shrink = WORKLOADS[args.workload]["warmup_shrink"]
        small = data if shrink == 1 else make_inputs(
            args.workload, args.seed, os.path.join(work, "warmup-inputs"), shrink
        )
        for r in cli_pass(args.workload, small, os.path.join(work, "warmup")):
            if not r["ok"]:
                raise RuntimeError(f"warm-up {r['command']} failed:\n{r['stdout']}")
        spark.catalog.clearCache()
        shutil.rmtree(os.path.join(work, "warmup"))

        passes = []
        t_window = time.time()
        setup_s = t_window - started
        steal0 = steal_seconds()
        while True:
            out = os.path.join(work, f"pass{len(passes)}")
            proctree.reset_peak_rss()
            cpu0, t0 = proctree.cpu_seconds(), time.time()
            records = cli_pass(args.workload, data, out)
            wall = time.time() - t0
            cpu = proctree.cpu_seconds() - cpu0
            passes.append({"wall": wall, "cpu": cpu, "peak": proctree.peak_rss_mb(),
                           "written": du_mb(out), "records": records})
            spark.catalog.clearCache()
            if len(passes) >= MIN_PASSES and time.time() - t_window >= args.seconds:
                break
        steal_s = steal_seconds() - steal0

        traced = None
        if args.trace:
            import layers

            tracer = layers.Tracer(spark)
            out = os.path.join(work, "traced")
            t0 = time.time()
            records = traced_pass(args.workload, data, out, tracer)
            traced = {"wall": time.time() - t0, "records": records, "tracer": tracer}
            spark.catalog.clearCache()
    finally:
        stop_session(spark)

    all_records = [r for p in passes for r in p["records"]]
    if traced:
        all_records += traced["records"]
    found = [check(r, data["truth"]) for r in all_records]
    failures = [f for fs in found for f in fs]
    attempted = len(all_records)
    failed = sum(1 for fs in found if fs)

    walls = [p["wall"] for p in passes]
    print(f"# workload={args.workload} seed={args.seed} master={MASTER} "
          f"shuffle_partitions={partitions} passes={len(passes)} "
          f"pass_walls={[round(w, 3) for w in walls]} "
          f"session_s={session_s:.3f} setup_s={setup_s:.3f} window_steal_s={steal_s:.2f} "
          f"pass_cpus={[round(p['cpu'], 2) for p in passes]} "
          f"call_walls={[(r['command'], round(r['wall'], 3), round(r['cpu'], 2)) for p in passes for r in p['records']]}")
    if args.trace:
        import layers

        r = layers.rollup(os.path.join(work, "eventlog"), traced["tracer"], traced["wall"],
                          statistics.median(walls), session_s)
        metrics = r["metrics"]
        book = traced["tracer"].bookkeeping_s
        print(f"# traced pass {traced['wall']:.3f} s, of which {book:.3f} s benchmark counts; "
              f"{r['attributed_s']:.3f} s in named layers "
              f"({100.0 * r['attributed_s'] / (traced['wall'] - book):.1f}% of the rest)")
    else:
        metrics = {
            "rows_per_s": (primary_rows(args.workload, data) / statistics.median(walls), "rows/s"),
            "cpu_s": (statistics.median(p["cpu"] for p in passes), "s"),
            "peak_rss_mb": (statistics.median(p["peak"] for p in passes), "MB"),
            "written_mb": (statistics.median(p["written"] for p in passes), "MB"),
            "setup_s": (setup_s, "s"),
        }
    print(f"# fail_ratio {failed / attempted:.4f} 1 ({failed} of {attempted} CLI calls)")
    return metrics, attempted, failed, failures


def main() -> int:
    args = parse_args()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        metrics, attempted, failed, failures = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"# FAILED: {f}", file=sys.stderr)
    for k, (v, unit) in metrics.items():
        print(f"# {k} {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
