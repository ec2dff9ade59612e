"""Measurement from outside the engine.

* The process tree under the benchmark (its own interpreter, the
  Spark JVM it launches and the Python workers the JVM forks), read
  from /proc: CPU seconds and resident memory.
* Spark's two status stores, which both work with the UI disabled: the
  core store for per-stage run time, CPU, shuffle, spill and failed
  tasks, and the SQL store for the Python-boundary metrics of
  ArrowEvalPython / MapInPandas nodes.
* ``Tracer``: spans around calls into one layer, each under its own job
  group, so every Spark job the calls start is attributed to the layer.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from itertools import count

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024 * 1024


# ------------------------------------------------------------ /proc tree

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces: fields start after ')'
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children[int(st[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the tree: user+system of each live process plus
    that of the children it has reaped (a finished Python worker is
    counted through the daemon that waited for it)."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st:
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total * _PAGE / MB


def steal_s() -> float:
    """Time the hypervisor ran other guests on this VM's busy CPUs
    (the steal column of /proc/stat), averaged over the CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK / os.cpu_count()


class RssPeak:
    """Samples the tree's resident memory in a thread while active."""

    def __init__(self, root: int, every_s: float = 0.2):
        self.root, self.every_s = root, every_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.root))
            self._stop.wait(self.every_s)

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------- Spark stores

STAGE_KEYS = ("stages", "task_cpu_s", "shuffle_write_mb", "spill_mb",
              "failed_tasks")

# SQL-store metric name -> our key. The store keeps only the formatted
# total (e.g. "557.5 KiB", "6.8 s"), parsed back by _parse.
PYTHON_METRICS = {
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_recv_mb",
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_start_s",
}
_SIZE = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": MB * MB}
_TIME = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")


def _parse(formatted: str, key: str) -> float:
    # "total (min, med, max (stageId: taskId))\n<total> (<min>, ...)"
    m = _VALUE.match(formatted.splitlines()[-1].strip())
    if not m:
        return 0.0
    v, unit = float(m.group(1)), m.group(2)
    return v * _SIZE[unit] / MB if key.endswith("_mb") else v * _TIME[unit]


def group_stage_ids(spark, group: str) -> list[int]:
    tracker = spark.sparkContext.statusTracker()
    ids: set[int] = set()
    for j in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(j)
        if info:
            ids.update(info.stageIds)
    return sorted(ids)


def stage_stats(spark, group: str) -> dict[str, float]:
    """Totals over the stages the group's jobs ran (skipped stages,
    whose shuffle output was reused, are not counted). ``skew_max_ms``
    and ``skew_med_ms`` sum each stage's slowest and median task run
    time, so their ratio is the layer's critical-path task skew."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = Counter({k: 0.0 for k in STAGE_KEYS})
    out["skew_max_ms"] = out["skew_med_ms"] = 0.0
    for sid in group_stage_ids(spark, group):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:   # evicted from the store
            continue
        if sd.status().toString() not in ("COMPLETE", "FAILED"):
            continue
        out["stages"] += 1
        out["task_cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
        out["spill_mb"] += (sd.diskBytesSpilled() + sd.memoryBytesSpilled()) / MB
        out["failed_tasks"] += sd.numFailedTasks()
        summary = store.taskSummary(sid, sd.attemptId(), quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            out["skew_med_ms"] += run.apply(0)
            out["skew_max_ms"] += run.apply(1)
    return dict(out)


def python_stats(spark, group: str) -> dict[str, float]:
    """Python-boundary metrics of the SQL executions run under
    ``group`` (the job group's description names the execution)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {k: 0.0 for k in PYTHON_METRICS.values()}
    it = store.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        if ex.description() != group:
            continue
        values = store.executionMetrics(ex.executionId())
        seen: set[int] = set()
        mit = ex.metrics().iterator()
        while mit.hasNext():
            m = mit.next()
            key = PYTHON_METRICS.get(m.name())
            acc = m.accumulatorId()
            if key is None or acc in seen:
                continue
            seen.add(acc)
            v = values.get(acc)
            if v.isDefined():
                out[key] += _parse(v.get(), key)
    return out


class Tracer:
    """Per-layer totals of spans, stage metrics and Python metrics.

    Each span runs under a fresh job group and the stores are read as
    soon as it ends: the core store keeps only the last
    spark.ui.retainedStages (1000) stages."""

    def __init__(self, spark):
        self.spark = spark
        self.layers: dict[str, Counter] = defaultdict(Counter)
        self._seq = count()

    @contextmanager
    def span(self, layer: str):
        group = f"{layer}-{next(self._seq)}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            busy = time.perf_counter() - t0
            sc.setJobGroup("perfbench", "perfbench")
            totals = self.layers[layer]
            totals["busy_s"] += busy
            totals.update(stage_stats(self.spark, group))
            totals.update(python_stats(self.spark, group))

    def add(self, layer: str, **counts: float) -> None:
        self.layers[layer].update(counts)

    def task_skew(self, layer: str) -> float:
        t = self.layers[layer]
        return t["skew_max_ms"] / max(t["skew_med_ms"], 1.0)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
