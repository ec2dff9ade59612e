"""Seeded dedup benchmark for deduper_spark.

    python3 perfbench/run.py --workload image_pipeline --seed 1 \
        --seconds 10 --trace 0

Closed loop, one client: a single driver process runs one dedup
iteration at a time on ``local[<cores>]`` and starts the next only
after the previous one has finished and been checked. The workloads
and their metrics are described in perfbench/README.md and
BENCHMARK.json. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the host settings (cores, heap, seed) and every iteration.

--trace 0  end-to-end metrics, tracing off.
--trace 1  per-layer metrics: one untraced and one traced iteration.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

_T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)     # the engine and this package, from the checkout

from perfbench.probe import (  # noqa: E402
    RssPeak,
    Tracer,
    median,
    stage_stats,
    steal_s,
    tree_cpu_s,
    tree_pids,
)

MIN_TIMED = 2          # timed iterations, even past --seconds

E2E_UNITS = {
    "rows_per_s": "rows/s", "setup_s": "s",
    "cpu_s": "s", "peak_rss_mb": "MB", "pair_recall": "ratio",
    "pair_precision": "ratio", "ok_share": "ratio",
}
COMMON = {"busy_s": "s", "stages": "count", "task_cpu_s": "s",
          "shuffle_write_mb": "MB", "spill_mb": "MB",
          "failed_tasks": "count"}
# layer -> its own metrics beyond COMMON, in pipeline order
LAYERS = {
    "session": {"start_s": "s"},
    "features": {"python_s": "s", "python_sent_mb": "MB",
                 "python_recv_mb": "MB", "python_start_s": "s"},
    "lsh": {"candidate_pairs": "count", "dropped_buckets": "count"},
    "verify": {"pairs_in": "count", "pass_ratio": "ratio",
               "psnr_pairs": "count", "python_s": "s"},
    "suffix": {"pairs_out": "count"},
    "cc": {"rounds": "count", "edges_in": "count", "task_skew": "ratio"},
    "exact": {"dupe_groups": "count", "seen_rows": "count"},
    "report": {},
    "sinks": {"rows_written": "count", "bytes_written_mb": "MB"},
    "run": {"first_run_s": "s"},
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{k}": u for layer, extra in LAYERS.items()
             for k, u in {**COMMON, **extra}.items()}
    units["trace.overhead_s"] = "s"
    return units


# ---------------------------------------------------------------- session

def heap_mb() -> int:
    """Driver heap from the host's memory: an eighth of MemTotal, within
    1-4 GiB. In local mode the driver heap holds every task, but the
    workloads are small and the host is shared, so the heap is kept far
    below the engine's default (which pre-touches 48 GiB)."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 8))


def start_session(cores: int, heap: str):
    """A fresh JVM and session; returns (spark, seconds to a working
    session, i.e. one that has run a job)."""
    from deduper_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, driver_memory=heap,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobGroup("session", "session")
    spark.range(1).count()
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("perfbench", "perfbench")
    return spark, elapsed


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and the
    Python workers it forked have exited."""
    from pyspark import SparkContext

    pids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()   # the gateway JVM exits on stdin EOF
        gw.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ------------------------------------------------------------ measurement

class Iterations:
    """Runs and checks iterations; a raise or a mismatch is a failure
    that is counted, never one that ends the benchmark."""

    def __init__(self, wl):
        self.wl = wl
        self.log: list[dict] = []

    def one(self, phase: str, fn) -> dict:
        pid = os.getpid()
        rec = {"phase": phase, "ok": False}
        cpu0, steal0, t0 = tree_cpu_s(pid), steal_s(), time.perf_counter()
        try:
            out = fn()
            rec["wall_s"] = time.perf_counter() - t0
            rec["steal_s"] = steal_s() - steal0
            rec["cpu_s"] = tree_cpu_s(pid) - cpu0
            rec["recall"], rec["precision"] = self.wl.check(out)
            rec["ok"] = rec["recall"] == 1.0 and rec["precision"] == 1.0
        except Exception as exc:  # noqa: BLE001 - counted as failed
            traceback.print_exc(file=sys.stderr)
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        self.log.append(rec)
        return rec

    @property
    def attempted(self) -> int:
        return len(self.log)

    @property
    def failed(self) -> int:
        return sum(1 for r in self.log if not r["ok"])


def end_to_end(wl, its: Iterations, seconds: float,
               setup_s: float) -> dict[str, float]:
    # the cold first iteration is the untimed warm-up
    its.one("first", wl.run)
    timed: list[dict] = []
    t0 = time.perf_counter()
    with RssPeak(os.getpid()) as rss:
        while len(timed) < MIN_TIMED or time.perf_counter() - t0 < seconds:
            timed.append(its.one("timed", wl.run))
    ok = [r for r in timed if r["ok"]]
    checked = [r for r in timed if "recall" in r]
    return {
        "rows_per_s": wl.rows / median([r["wall_s"] for r in ok])
        if ok else 0.0,
        "setup_s": setup_s,
        "cpu_s": median([r["cpu_s"] for r in ok]),
        "peak_rss_mb": rss.peak,
        "pair_recall": median([r["recall"] for r in checked]),
        "pair_precision": median([r["precision"] for r in checked]),
        "ok_share": 1 - its.failed / its.attempted,
    }


def per_layer(spark, wl, its: Iterations,
              session_start_s: float) -> dict[str, float]:
    """One untraced iteration (the ``run`` layer), then one traced one;
    the traced run's clusters must equal the untraced run's."""
    tr = Tracer(spark)
    first = its.one("first", wl.run)

    def untraced():
        with tr.span("run"):
            return wl.run()

    its.one("untraced", untraced)
    labels = getattr(wl, "labels", None)
    traced = its.one("traced", lambda: wl.traced(tr))
    if traced["ok"] and wl.labels != labels:
        traced["ok"] = False
        traced["error"] = "traced clusters differ from the untraced run's"

    tr.layers["session"].update(stage_stats(spark, "session"))
    tr.layers["session"]["busy_s"] = session_start_s
    out: dict[str, float] = {}
    for layer, extra in LAYERS.items():
        t = tr.layers[layer]
        vals = {**{k: t[k] for k in COMMON}, **{k: t[k] for k in extra}}
        if layer == "session":
            vals["start_s"] = session_start_s
        if layer == "verify":
            vals["pass_ratio"] = t["passed"] / t["pairs_in"] \
                if t["pairs_in"] else 0.0
        if layer == "cc":
            vals["task_skew"] = tr.task_skew("cc")
        if layer == "run":
            vals["first_run_s"] = first.get("wall_s", 0.0)
        out.update({f"{layer}.{k}": float(v) for k, v in vals.items()})
    out["trace.overhead_s"] = (traced.get("wall_s", 0.0)
                               - tr.layers["run"]["busy_s"])
    return out


# ------------------------------------------------------------------- main

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a tiny one)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "deduper_spark", "__init__.py")):
        print(f"perfbench: no deduper_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    # everything the run writes stays in the checkout: Spark's local
    # dirs, the JVM's and Python's temp files, the inputs and sinks
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}").strip()
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = os.path.join(work, "tmp")

    spark = None
    try:
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        import_s = time.perf_counter() - _T0
        cores = len(os.sched_getaffinity(0))
        heap = f"{heap_mb()}m"
        spark, start_s = start_session(cores, heap)

        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, args.seed, work, args.scale)
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        its = Iterations(wl)
        if args.trace:
            metrics = per_layer(spark, wl, its, start_s)
            units = per_layer_units()
        else:
            metrics = end_to_end(wl, its, args.seconds, import_s + start_s)
            units = E2E_UNITS
        print(json.dumps({"workload": wl.name, "seed": args.seed,
                          "cores": cores, "heap": heap, "rows": wl.rows,
                          "session_start_s": start_s, "import_s": import_s,
                          "prepare_s": prepare_s,
                          "iterations": its.log}))
        print(json.dumps({
            "correct": its.failed == 0,
            "attempted": its.attempted,
            "failed": its.failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass    # another run's work dir is still there


if __name__ == "__main__":
    sys.exit(main())
