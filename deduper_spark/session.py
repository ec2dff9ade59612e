"""SparkSession factory tuned for this engine.

Defaults are sized from the host (local[cores], single JVM, heap about
half of physical memory) but every knob is the one you would set on a
real cluster: AQE on (runtime re-plan + skew-join splitting), shuffle
partitions sized to cores, Arrow enabled for the pandas-UDF signature
kernels. ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEMORY`` override the
host-derived cores and heap.
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
        # candidate self-joins and verify joins here are all bounded by
        # the bucket caps, so the build sides stay small.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: the driver heap IS the cluster memory — size it to
        # the host (every task's Arrow batches + cache + shuffle live in
        # one JVM; an 8g heap GC-thrashed under 32 threads).
        # Pre-touch the full heap at startup: lazy heap growth made the
        # FIRST memory-hungry job page-fault tens of GB under 32-thread
        # concurrency (measured 67 s -> 3 s with pre-touch). Same
        # practice as -Xms=-Xmx on production executors.
        .config("spark.driver.memory", driver_memory)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_memory} -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
