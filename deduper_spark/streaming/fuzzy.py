"""Streaming FUZZY (near-dup) ingestion dedup.

Generalizes the reference's cross-run seen-hash ledger
(Deduper.kt:135-158) from exact MD5 keys to perceptual fingerprints:
the durable state is a BUCKET ledger — one row per (band, bucket,
fingerprint, id) from the engine's int64 banding — and every
micro-batch is joined against it on (band, bucket) with the inline
``bit_count(xor) <= t`` predicate, exactly the
hamming_candidate_pairs shape (operators/lsh.py). A batch row whose
fingerprint sits within Hamming t of ANY previously-ingested row is a
near-dup and is dropped; survivors append their bucket rows.

Semantics: a batch row is dropped iff it is (a) within t of a RETAINED
representative in the ledger, or (b) a non-minimal member of a
within-batch near-dup component — the SAME connected-components
keep-first rule the flagship batch pipeline applies
(operators/cc.py + keep-first, Deduper.kt:207-224), so batch and
streaming ingestion of identical data retain identical survivors.
The ledger holds surviving representatives only (in exact mode that
equals the reference's all-hashes ledger, since dropped rows share a
survivor's key; in fuzzy mode representatives ARE the state).
Cross-batch transitive closure is out of scope by design: a streaming
filter decides per arrival; full-history re-clustering belongs to the
batch pipeline (compact_streaming_output is the scheduled bridge).

Effectively-once: both outputs are batch_id-partitioned dynamic
overwrites and the ledger read excludes the current batch_id, so a
retried batch replaces its own partitions and can never see its own
partial write — same contract as streaming/incremental.py. The sizes
snapshot (below) follows the same rule; the optional bucketed ledger
TABLE uses a batch-membership replay guard instead (appends commit
atomically via the file commit protocol; a replayed batch sees its
own committed batch_id and skips the append).

Per-batch cost model (round-5 redesign — the O(ledger)-per-batch
rescan is gone):

  * SIZING no longer recomputes ``ledger.groupBy(band, bucket)`` from
    the raw ledger each batch. Every non-empty batch maintains an
    incremental bucket-size SNAPSHOT at ``<ledger_dir>_sizes``,
    partitioned by batch_id: snapshot(N) =
    snapshot(prev) + this batch's appended band rows, one tiny
    aggregation over (previous snapshot ∪ batch deltas). The guard
    reads ONLY the latest prior snapshot — bounded by the bucket
    space (n_bands x 2^band_bits rows, ~262k at the 16-bit default),
    independent of ledger size and batch count. Snapshots older than
    the one just read are pruned (the read one is kept so a replayed
    batch still finds its "latest prior").
  * The PROBE JOIN splits cold/hot on the snapshot sizes. Cold
    buckets (lsz <= max_bucket_size — the overwhelming majority) join
    directly on (band, bucket); hot buckets up to ``ledger_bucket_cap``
    are salted — ledger rows get pmod(xxhash64(val), n_sub), each
    probing batch row replicates across all n_sub salts, so the match
    test stays EXACT while per-task fan-in is bounded by
    ~max_bucket_size. Buckets over the cap are stop-patterns (a
    16-bit band value shared by 20k+ mutually-distant survivors),
    dropped from the join and METERED via ``on_metrics`` — a batch row
    whose only shared band is capped is admitted (bounded, reported
    recall trade — the same policy as candidate_pairs' SALT_CAP).
  * With ``ledger_table`` set, the ledger lives in a Spark table
    BUCKETED on (band, bucket) (sinks/writers.write_bucketed shape):
    the cold-path probe join consumes the table's bucket layout, so
    the ledger side is never re-shuffled — the per-batch Exchange
    volume is O(batch), not O(ledger) (plan-asserted by
    tests/test_round5.py). Only hot-bucket ledger rows (bounded by
    cap x #hot buckets) pay a salt re-shuffle.

Banding contract unchanged: band_bits=16 → 4 bands x 2^16 buckets;
pigeonhole guarantees recall for Hamming <= n_bands-1 = 3, the
default max_hamming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deduper_spark.errors import MISSING_OR_EMPTY_PATH, absent_state

# Buckets of the optional ledger table, bucketed on (band, bucket).
LEDGER_TABLE_BUCKETS = 16


def _band_rows(df: DataFrame, id_col: str, fp_col: str,
               band_bits: int, max_hamming: int) -> DataFrame:
    from deduper_spark.operators.lsh import int64_band_buckets

    return int64_band_buckets(df, id_col, fp_col, band_bits=band_bits,
                              family="fp", max_hamming=max_hamming)


# ------------------------------------------------------------- sizes


def _sizes_fs(spark: SparkSession, sizes_dir: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(sizes_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path, jvm


def _snapshot_ids(spark: SparkSession, sizes_dir: str) -> list[int]:
    """Committed size-snapshot batch ids — a pure METADATA listing of
    ``sizes_dir`` partition directories (object stores list partitions
    the same way); never scans snapshot data."""
    fs, path, _ = _sizes_fs(spark, sizes_dir)
    if not fs.exists(path):
        return []
    ids = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.startswith("batch_id="):
            try:
                ids.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(ids)


def sizes_snapshot_df(spark: SparkSession, sizes_dir: str,
                      before: int) -> tuple[DataFrame | None, int | None]:
    """(latest prior snapshot as (band, bucket, lsz), its batch id) —
    or (None, None) when no snapshot precedes ``before``. Reads exactly
    ONE partition directory regardless of how many batches have run."""
    prior = [i for i in _snapshot_ids(spark, sizes_dir) if i < before]
    if not prior:
        return None, None
    snap_id = prior[-1]
    return spark.read.parquet(f"{sizes_dir}/batch_id={snap_id}"), snap_id


def _write_sizes_snapshot(prev: DataFrame | None, deltas: DataFrame,
                          sizes_dir: str, batch_id: int,
                          read_id: int | None) -> None:
    """snapshot(batch_id) = prev + deltas, written as a batch_id
    partition (dynamic overwrite — a replayed batch replaces its own
    snapshot). Prunes snapshots older than the one just read: the read
    one must survive so a REPLAY of this batch still finds its latest
    prior."""
    new = deltas if prev is None else prev.unionByName(deltas)
    out = (new.groupBy("band", "bucket")
           .agg(F.sum("lsz").alias("lsz"))
           .withColumn("batch_id", F.lit(batch_id)))
    (out.coalesce(1).write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(sizes_dir))
    if read_id is not None:
        spark = deltas.sparkSession
        fs, _, jvm = _sizes_fs(spark, sizes_dir)
        for old in _snapshot_ids(spark, sizes_dir):
            if old < read_id:
                fs.delete(jvm.org.apache.hadoop.fs.Path(
                    f"{sizes_dir}/batch_id={old}"), True)


def cold_probe_join(bands: DataFrame, ledger: DataFrame,
                    cold_keys: DataFrame, max_hamming: int) -> DataFrame:
    """Cold-bucket ledger probe: restrict both sides to cold buckets,
    equi-join on (band, bucket), inline Hamming predicate → matched
    probe ids. The join key equals the ledger table's bucket columns,
    so a BUCKETED ledger side is consumed in place — zero Exchange
    above its scan (plan-asserted in tests/test_round5.py); only the
    O(batch) probe side shuffles."""
    ham = F.bit_count(F.col("val").bitwiseXOR(F.col("val_r")))
    probes_c = bands.join(cold_keys, ["band", "bucket"], "left_semi")
    led_c = ledger.join(cold_keys, ["band", "bucket"], "left_semi")
    return (probes_c.join(led_c, ["band", "bucket"])
            .where(ham <= max_hamming).select("id"))


# ------------------------------------------------------------- stream


def stream_fuzzy_dedup(
    spark: SparkSession,
    source_dir: str,
    source_schema: str,
    target_dir: str,
    ledger_dir: str,
    checkpoint_dir: str,
    id_col: str,
    fingerprint_col: str,
    max_hamming: int = 3,
    band_bits: int = 16,
    available_now: bool = True,
    max_bucket_size: int = 200,
    ledger_bucket_cap: int = 20_000,
    on_metrics=None,
    dropped_dir: str | None = None,
    ledger_table: str | None = None,
):
    """Start (and return) the streaming query. See module docstring.

    ``on_metrics(dict)`` (optional) is invoked once per non-empty batch
    with the ledger-guard accounting: {batch_id, ledger_salted_buckets,
    ledger_dropped_buckets, ledger_dropped_rows, sizing_source} —
    sizing_source is "snapshot:<id>" when the incremental size table
    served the guard (the steady state), or "rebuild" for the one-time
    repair scan after an operator deleted the sizes dir.

    ``dropped_dir`` (optional): persist each dropped row's (id,
    fingerprint, batch_id) — 16 bytes of BRIDGE EVIDENCE per discarded
    row, no payload. compact_streaming_output then merges retained rows
    whose only connection ran through dropped rows (the chained-dup
    divergence), converging the stream to the batch pipeline's
    clustering.

    ``ledger_table`` (optional): keep the band ledger in a Spark table
    bucketed on (band, bucket), in ``LEDGER_TABLE_BUCKETS`` buckets,
    instead of the batch-partitioned parquet dir — the probe join then
    never re-shuffles the ledger side (module docstring, per-batch cost
    model). ``ledger_dir`` is unused for probing in this mode (the
    sizes snapshot still derives its path from it).
    """
    from pyspark.errors import AnalysisException

    sizes_path = ledger_dir.rstrip("/") + "_sizes"
    stream = spark.readStream.schema(source_schema).parquet(source_dir)

    def _read_ledger(s: SparkSession, batch_id: int) -> DataFrame | None:
        try:
            if ledger_table is not None:
                raw = s.read.table(ledger_table)
            else:
                raw = s.read.parquet(ledger_dir)
        except AnalysisException as exc:
            # ONLY a genuinely absent or empty ledger is a first run;
            # corrupt or unreadable state must raise, not silently
            # disable dedup (same narrowing as pipeline._preload_seen)
            # condition probe through the errors.py shim (r5 ADVICE:
            # Spark 3.x has no getCondition — a direct call would
            # AttributeError inside the handler)
            if ledger_table is not None and absent_state(
                    exc, ("TABLE_OR_VIEW_NOT_FOUND",)):
                return None
            if not absent_state(exc, MISSING_OR_EMPTY_PATH):
                raise
            return None
        return (raw.where(F.col("batch_id") < batch_id)
                .select("band", "bucket", F.col("val").alias("val_r")))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        if batch_df.isEmpty():
            # an empty batch must not write a _SUCCESS-only ledger dir:
            # the next batch's schema inference would fail permanently
            # (UNABLE_TO_INFER_SCHEMA), bricking the stream
            return
        # one fingerprint per id; exact-equal fingerprints collapse
        # keep-first immediately (min id per fingerprint)
        base = (batch_df
                .withColumn("_fp", F.col(fingerprint_col))
                .withColumn(
                    "_rk",
                    F.row_number().over(
                        Window.partitionBy("_fp").orderBy(F.col(id_col))))
                .where("_rk = 1").drop("_rk"))
        bands = _band_rows(base, id_col, "_fp", band_bits, max_hamming)

        ham = F.bit_count(F.col("val").bitwiseXOR(F.col("val_r")))
        seen_ids = None
        sizes = None          # pre-batch bucket sizes; reused as the
        read_id = None        # snapshot base after the sinks commit
        ledger = _read_ledger(s, batch_id)
        if ledger is not None:
            sizes, snap_id = sizes_snapshot_df(s, sizes_path, batch_id)
            if sizes is None:
                # reachable only when an operator deleted the sizes dir
                # (every non-empty batch writes ledger + snapshot
                # together): one-time repair from the raw ledger
                sizes = (ledger.groupBy("band", "bucket")
                         .agg(F.count("*").alias("lsz")))
                sizing_source = "rebuild"
            else:
                sizing_source = f"snapshot:{snap_id}"
                read_id = snap_id
            sizes = sizes.persist()
            lsz = F.col("lsz")
            if on_metrics is not None:
                # the accounting agg + collect is one extra Spark job
                # per batch whose only consumer is the callback — skip
                # it entirely on the default no-callback hot path
                stats = sizes.agg(
                    F.coalesce(F.sum(F.when(
                        lsz > ledger_bucket_cap, 1).otherwise(0)),
                        F.lit(0)).alias("dropped_buckets"),
                    F.coalesce(F.sum(F.when(
                        lsz > ledger_bucket_cap, lsz).otherwise(0)),
                        F.lit(0)).alias("dropped_rows"),
                    F.coalesce(F.sum(F.when(
                        (lsz > max_bucket_size)
                        & (lsz <= ledger_bucket_cap), 1).otherwise(0)),
                        F.lit(0)).alias("salted_buckets"),
                ).collect()[0]
                on_metrics({
                    "batch_id": batch_id,
                    "ledger_salted_buckets": int(stats["salted_buckets"]),
                    "ledger_dropped_buckets": int(stats["dropped_buckets"]),
                    "ledger_dropped_rows": int(stats["dropped_rows"]),
                    "sizing_source": sizing_source,
                })
            # COLD buckets join directly on (band, bucket): with a
            # bucketed ledger_table this consumes the table's layout —
            # no Exchange above the ledger scan (plan-asserted)
            cold = sizes.where(lsz <= max_bucket_size) \
                .select("band", "bucket")
            seen_c = cold_probe_join(bands, ledger, cold, max_hamming)
            # HOT buckets (<= cap) are salted; only their ledger rows
            # pay the salt re-shuffle
            hot = sizes.where(
                (lsz > max_bucket_size) & (lsz <= ledger_bucket_cap))
            n_sub = F.ceil(lsz / F.lit(max_bucket_size)).cast("int")
            led_h = (ledger.join(hot, ["band", "bucket"])
                     .withColumn("salt", F.pmod(F.xxhash64("val_r"),
                                                n_sub).cast("int"))
                     .drop("lsz"))
            probes_h = (bands.join(hot, ["band", "bucket"])
                        .withColumn("salt", F.explode(
                            F.sequence(F.lit(0), n_sub - 1)))
                        .drop("lsz"))
            seen_h = (probes_h.join(led_h, ["band", "bucket", "salt"])
                      .where(ham <= max_hamming).select("id"))
            seen_ids = (seen_c.unionByName(seen_h)
                        .select(F.col("id").alias(id_col)).distinct())
        fresh = (base.join(seen_ids, id_col, "left_anti")
                 if seen_ids is not None else base)

        # within-batch: connected components over near pairs, keep the
        # min id per component — identical survivor rule to the batch
        # pipeline (so batch vs streaming ingestion agree). Pair
        # generation goes through hamming_candidate_pairs — the bucket
        # rows already carry (val, max_ham) — so hot-bucket
        # sizing/salting/caps apply to a skewed batch (a crawler
        # hiccup emitting thousands of near-identical rows) exactly as
        # in the batch operators.
        from deduper_spark.operators.cc import connected_components
        from deduper_spark.operators.lsh import hamming_candidate_pairs

        fresh = fresh.localCheckpoint()    # pins the anti-join; feeds
        #                                    banding AND the final join
        fb = _band_rows(fresh, id_col, "_fp", band_bits, max_hamming)
        pairs, _dropped = hamming_candidate_pairs(fb)
        comps = connected_components(pairs.select("id_l", "id_r"))
        dropped = (comps.where(F.col("id") != F.col("cluster_id"))
                   .select(F.col("id").alias(id_col)))
        survivors = (fresh.join(dropped, id_col, "left_anti")
                     .withColumn("batch_id", F.lit(batch_id))
                     .localCheckpoint())   # compute once for both sinks

        out_bands = (_band_rows(survivors, id_col, "_fp",
                                band_bits, max_hamming)
                     .select("band", "bucket", "val",
                             F.col("id").alias(id_col))
                     .withColumn("batch_id", F.lit(batch_id))
                     .localCheckpoint())   # feeds the ledger sink AND
        #                                    the sizes-snapshot deltas
        sinks = [(survivors.drop("_fp"), target_dir)]
        if ledger_table is None:
            sinks.append((out_bands, ledger_dir))
        if dropped_dir is not None:
            # bridge evidence: every ORIGINAL batch row that did not
            # survive (ledger-dropped or within-batch non-minimal),
            # id + fingerprint only
            dropped_rows = (base
                            .join(survivors.select(id_col),
                                  id_col, "left_anti")
                            .select(id_col,
                                    F.col("_fp").alias(fingerprint_col))
                            .withColumn("batch_id", F.lit(batch_id)))
            sinks.append((dropped_rows, dropped_dir))
        for cols, path in sinks:
            (cols.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("batch_id").parquet(path))
        if ledger_table is not None:
            # replay guard: append commits atomically (file commit
            # protocol); a replayed batch finds its own committed
            # batch_id and skips. limit(1) bounds the probe; parquet
            # min/max stats prune it to footer reads.
            already = False
            try:
                already = bool(
                    s.read.table(ledger_table)
                    .where(F.col("batch_id") == batch_id)
                    .limit(1).count())
            except AnalysisException as exc:
                # absent table == first batch; any OTHER probe failure
                # must raise — treating a transient/permission error as
                # "absent" would double-append this batch's band rows
                # on replay and undercount the sizes snapshot (r5
                # ADVICE)
                if not absent_state(exc, ("TABLE_OR_VIEW_NOT_FOUND",)):
                    raise
            if not already:
                (out_bands.write.mode("append")
                 .bucketBy(LEDGER_TABLE_BUCKETS, "band", "bucket")
                 .sortBy("band", "bucket")
                 .format("parquet").saveAsTable(ledger_table))
        # sizes snapshot LAST: written iff the batch's ledger append is
        # durable, so snapshot(N) always covers batches <= N exactly.
        # The base is the guard's own pre-batch ``sizes`` — in the
        # rebuild case that is the full ledger-derived sizing, so the
        # repaired snapshot is complete, not delta-only.
        deltas = out_bands.groupBy("band", "bucket") \
            .agg(F.count("*").alias("lsz"))
        _write_sizes_snapshot(sizes, deltas, sizes_path, batch_id, read_id)
        if sizes is not None:
            sizes.unpersist()

    writer = (stream.writeStream.foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_streaming_output(
    spark: SparkSession,
    target_dir: str,
    id_col: str,
    fingerprint_col: str,
    max_hamming: int = 3,
    band_bits: int = 16,
    dropped_dir: str | None = None,
    id_type: str = "string",
) -> DataFrame:
    """Periodic batch re-clustering of a fuzzy stream's output — the
    documented closure for the streaming-vs-batch divergence on
    chained duplicates (module docstring: no cross-batch transitive
    closure in the per-arrival filter).

    Runs the SAME machinery as the batch pipeline (int64 banding ->
    hamming_candidate_pairs -> connected components) over the retained
    rows UNIONED with the dropped-row bridge evidence (id +
    fingerprint, written when the stream ran with ``dropped_dir``).
    A chain A~B~C ingested across micro-batches retains {A, C} online
    (B, the bridge, was dropped and is not in the target); with B's
    fingerprint as evidence the component {A, B, C} reassembles and
    the compacted output keeps only A. Per component the survivor is
    the MIN-ID RETAINED row — compaction merges, it never resurrects
    (dropped payloads are gone by design); with monotonically assigned
    ingest ids (the standard case) that equals the one-shot batch
    pipeline's keep-first result, pinned by test. Without
    ``dropped_dir`` the pass still merges retained rows that are
    directly within Hamming t of each other. Intended cadence:
    periodic (nightly) — the reference's rebuild-the-ledger role
    (Deduper.kt:135-158) generalized to fuzzy keys.

    ``id_type``: Spark SQL type of the stream's id column, used ONLY
    for the empty-result schema when the target was never written —
    keeps the absent-target and populated return schemas identical for
    non-string ids (ADVICE r4)."""
    from pyspark.errors import AnalysisException

    from deduper_spark.operators.cc import connected_components
    from deduper_spark.operators.lsh import hamming_candidate_pairs

    try:
        retained = spark.read.parquet(target_dir)
    except AnalysisException as exc:
        # "stream ran but every batch was empty" is a reachable state
        # (empty batches short-circuit before any write), so a
        # scheduled compaction must not crash on the absent target —
        # there is nothing to compact. The payload schema is unknowable
        # without data; return the minimal streamed-output schema.
        if not absent_state(exc, MISSING_OR_EMPTY_PATH):
            raise
        return spark.createDataFrame(
            [], f"`{id_col}` {id_type}, `{fingerprint_col}` bigint, "
                "batch_id bigint")
    nodes = retained.select(F.col(id_col).alias("id"),
                            F.col(fingerprint_col).alias("_fp"))
    if dropped_dir is not None:
        try:
            bridges = (spark.read.parquet(dropped_dir)
                       .select(F.col(id_col).alias("id"),
                               F.col(fingerprint_col).alias("_fp")))
            nodes = nodes.unionByName(bridges)
        except AnalysisException as exc:
            if not absent_state(exc, MISSING_OR_EMPTY_PATH):
                raise
            # no dropped rows recorded yet: retained-only compaction

    bands = _band_rows(nodes, "id", "_fp", band_bits, max_hamming)
    pairs, _dropped = hamming_candidate_pairs(bands)
    comps = connected_components(pairs.select("id_l", "id_r"))
    # component rep = min id among RETAINED members (bridges only
    # connect; they cannot win — their payloads no longer exist)
    retained_comps = (retained.select(F.col(id_col).alias("id"))
                      .join(comps, "id", "left")
                      .withColumn("cluster_id",
                                  F.coalesce("cluster_id", F.col("id"))))
    reps = (retained_comps.groupBy("cluster_id")
            .agg(F.min("id").alias("rep")))
    keep = reps.select(F.col("rep").alias(id_col))
    return retained.join(keep, id_col, "left_semi")
