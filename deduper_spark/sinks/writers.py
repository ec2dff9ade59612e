"""Sink connectors (reference operators O18-O21, O23, O27).

The reference fans out to <=3 sinks over blocking queues with file
locks (O24/O25) — all obsolete under Spark's DAG + atomic commit
protocols (Iceberg snapshot commits in production, parquet/csv task
commits here). What survives:
  * the three canonical outputs: deduped target, dupes table, hashes
    ledger (schemas from persistors/Persistors.kt:343-350, 415-420);
  * delete-if-exists -> mode("overwrite") (O23);
  * reconciliation (O27) — the reference logs mismatches
    (consumers/BaseConsumer.kt:106-117); THIS engine fails hard. Both
    writers share one helper: the sinks are written concurrently, then
    counted back from storage in a single query; the hashes ledger
    follows, written and counted only once the others reconcile.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from deduper_spark.operators.exact import ExactDedupResult
from deduper_spark.report import DedupeReport


class ReconciliationError(RuntimeError):
    pass


def write_csv(df: DataFrame, path: str, overwrite: bool = True) -> None:
    """CSV sink: nulls written as '' (reference O18 —
    persistors/Persistors.kt:167-173 coerces null -> empty string)."""
    str_df = df.select(
        *[F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c)
          for c in df.columns]
    )
    str_df.write.mode("overwrite" if overwrite else "error").option(
        "header", True
    ).csv(path)


def write_parquet(df: DataFrame, path: str, overwrite: bool = True) -> None:
    df.write.mode("overwrite" if overwrite else "error").parquet(path)


def write_bucketed(df: DataFrame, table: str, bucket_cols: tuple[str, ...],
                   n_buckets: int, sort_cols: tuple[str, ...] = (),
                   path: str | None = None) -> None:
    """Persist hash-bucketed (optionally sorted) — the co-located-join
    substrate: two tables bucketed identically on the join key join
    with NO Exchange (asserted in-plan by
    tests/test_bucketed_join.py). At 100 TB this is how the seen-hash
    ledger and the incoming batch pre-agree on partitioning so the
    nightly anti-join never reshuffles the corpus. Spark-native
    bucketing (bucketBy + saveAsTable); Iceberg's bucket transform is
    the same idea when the catalog is available."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def write_orc(df: DataFrame, path: str, overwrite: bool = True) -> None:
    df.write.mode("overwrite" if overwrite else "error").orc(path)


def write_avro(df: DataFrame, path: str, overwrite: bool = True) -> None:
    from deduper_spark.sources.readers import avro_available

    if not avro_available(df.sparkSession):
        raise RuntimeError(
            "spark-avro data source not on the classpath; add the "
            "org.apache.spark:spark-avro package to the deployment")
    df.write.mode("overwrite" if overwrite else "error").format("avro").save(path)


def write_table(df: DataFrame, ident_or_path: str, overwrite: bool = True) -> None:
    """Iceberg writeTo when a catalog is configured, else parquet."""
    from deduper_spark.sources.readers import iceberg_available

    spark = df.sparkSession
    if "/" not in ident_or_path and iceberg_available(spark):
        if overwrite:
            df.writeTo(ident_or_path).createOrReplace()
        else:
            df.writeTo(ident_or_path).append()
        return
    write_parquet(df, ident_or_path, overwrite)


def _write_reconciled(
    spark: SparkSession,
    checks: dict[str, tuple[str | None, DataFrame, int]],
) -> dict[str, int]:
    """Write each configured sink (``name -> (path, df, expected
    rows)``; a None path is skipped), then reconcile the rows in
    storage against ``expected``; a mismatch raises.

    The "hashes" ledger is what the next incremental run preloads, so
    it is written last: only once every other sink is written and
    reconciled. A failed run therefore never leaves a ledger that would
    mark its own batch as already seen."""
    sinks = {name: c for name, c in checks.items() if c[0]}
    written: dict[str, int] = {}
    for wave in ([n for n in sinks if n != "hashes"],
                 [n for n in sinks if n == "hashes"]):
        if wave:
            written.update(_write_wave(spark, {n: sinks[n] for n in wave}))
    return written


def _write_wave(
    spark: SparkSession,
    sinks: dict[str, tuple[str, DataFrame, int]],
) -> dict[str, int]:
    """Write independent sinks concurrently, one driver thread each,
    then count them back and reconcile.

    The threads inherit the caller's job group, description and tags,
    so every job stays attributable to the caller. Every frame a sink
    reads must already be materialized: a lazily checkpointed frame
    read by two threads would be computed twice. All sinks are counted
    back in ONE query (a union of the stored sinks grouped by sink
    name) read with the known schema, so no footer-inference job
    runs."""
    with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(write_table),
                               df, path) for path, df, _ in sinks.values()]
    for f in futures:
        f.result()  # re-raise the first failed write

    stored = [
        (spark.read.schema(df.schema).parquet(path) if "/" in path
         else spark.read.table(path)).select(F.lit(name).alias("sink"))
        for name, (path, df, _) in sinks.items()
    ]
    counts = {r["sink"]: r["count"] for r in
              reduce(DataFrame.unionByName, stored).groupBy("sink").count()
              .collect()}
    written = {name: counts.get(name, 0) for name in sinks}
    for name, (_, _, expected) in sinks.items():
        if written[name] != expected:
            raise ReconciliationError(
                f"sink '{name}' wrote {written[name]} rows, report expects "
                f"{expected}"
            )
    return written


def write_pipeline_outputs(
    spark: SparkSession,
    result,  # PipelineResult (not imported — avoids a circular import)
    report: DedupeReport,
    config,  # DedupConfig
    n_fresh: int,
    preloaded_hashes: int = 0,
) -> dict[str, int]:
    """Write the fuzzy pipeline's configured sinks (DedupConfig
    target/dupes/hashes/clusters paths — reference sink wiring:
    Deduper.kt:431-497) with the same fail-hard reconciliation as the
    exact path:

      target   == record_count - dupe_count     (surviving rows)
      clusters == n_fresh                       (rows that entered clustering)
      dupes    == distinct_dupe_count           (incl. preloaded-hit groups —
                                                 dupe_groups carries their
                                                 detail rows too)
      hashes   == hash_count - preloaded_hashes (THIS run's ledger)
    """
    checks = {
        "target": (config.target_path, result.survivors,
                   report.surviving_count),
        "clusters": (config.clusters_path, result.clusters, n_fresh),
        "dupes": (config.dupes_path, result.dupe_groups,
                  report.distinct_dupe_count),
        "hashes": (config.hashes_path, result.hash_ledger,
                   report.hash_count - preloaded_hashes),
    }
    return _write_reconciled(spark, checks)


def write_dedup_outputs(
    spark: SparkSession,
    result: ExactDedupResult,
    report: DedupeReport,
    target_path: str | None = None,
    dupes_path: str | None = None,
    hashes_path: str | None = None,
) -> dict[str, int]:
    """Write the reference's three sinks and reconcile counts against
    the report: target == recordCount - dupeCount
    (DeduperDataConsumer.kt:55-57), dupes == distinctDupeCount
    (DeduperDupeConsumer.kt:33-35), hashes == hashCount
    (DeduperHashConsumer.kt:34-36). Mismatch raises (fail-hard upgrade
    over the reference's log-only behavior)."""
    checks = {
        "target": (target_path, result.survivors, report.surviving_count),
        "dupes": (dupes_path, result.dupe_groups, report.distinct_dupe_count),
        "hashes": (hashes_path, result.hash_ledger, report.hash_count),
    }
    return _write_reconciled(spark, checks)
