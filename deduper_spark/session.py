"""SparkSession factory tuned for this engine.

Defaults are sized from the host (local[cores], single JVM, maximum
heap about half of physical memory, grown on demand) but every knob is
the one you would set on a real cluster: AQE on (runtime re-plan + skew-join splitting), shuffle
partitions sized to cores, Arrow enabled for the pandas-UDF signature
kernels. ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEMORY`` override the
host-derived cores and heap.

The generated-code cache holds 1000 classes, not Spark's default 100,
so a repeated run in one session (incremental batches, streaming
micro-batches, benchmark iterations) reuses the classes it generated
before instead of recompiling them with Janino and re-warming them in
the JIT; the measured working set is noted at the setting.
``codegen_compiles`` counts compiles, so a run can report its own.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """Local-mode task slots: ``SPARK_GRAFT_CPUS``, else the host's cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def _host_heap() -> str:
    """About half of the host's MemTotal, in megabytes."""
    try:
        with open("/proc/meminfo") as f:
            total = next(int(line.split()[1]) for line in f
                         if line.startswith("MemTotal:")) * 1024
    except OSError:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 2 // 2**20}m"


def codegen_compiles(spark: SparkSession) -> int:
    """Whole-stage and expression classes Janino has compiled so far.

    The counter is JVM-wide: in local mode it includes the executors'
    compiles (they share the driver's JVM); on a cluster it counts only
    the driver's. Take the difference over a run.
    """
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "deduper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    cpus = host_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core; on a cluster this
        # would be ~2-3x total executor cores (AQE coalesces the rest).
        n = master[master.index("[") + 1 : -1] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)
    driver_memory = (driver_memory or os.environ.get("SPARK_DRIVER_MEMORY")
                     or _host_heap())

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect advisory size when coalescing (docs-recommended for
        # prod): small shuffles collapse instead of paying per-task
        # overhead across every core
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE rewrite sort-merge joins to shuffled-hash when every
        # post-shuffle partition's build side fits locally (guide §3.1:
        # "often faster than sort-merge when one side is moderately
        # small per partition" — skips both sort passes). 64 MB per
        # partition is safely inside executor memory at any scale; the
        # verify joins here are all bounded by the bucket caps, so the
        # build sides stay small.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: the driver heap IS the cluster memory — size it to
        # the host (every task's Arrow batches + cache + shuffle live in
        # one JVM; an 8g heap GC-thrashed under 32 threads). This is
        # the MAXIMUM heap: the JVM grows into it, so a session commits
        # only what it uses. (Pre-touching the whole heap at start paid
        # off on a 32-core host, 67 s -> 3 s for the first memory-hungry
        # job; on 4 cores it only raised peak RSS.)
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # static conf: keep every generated class of the session. With an
        # unbounded cache one session running the engine's five modes
        # generated ~500 classes (audit pipeline with four sinks 197,
        # exact incremental 119, full-PSNR pipeline with the JSON ledger
        # 103, text chains 44, seen-hash preload 39); the default 100
        # evicted each class before its next use, so every repeated
        # audit run recompiled ~190 of them. 1000 is about 2x the set.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
