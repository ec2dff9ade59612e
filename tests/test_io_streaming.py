"""Tests for sources, sinks (reconciliation), and streaming dedup."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from deduper_spark.operators.exact import build_report, exact_dedup
from deduper_spark.sinks.writers import (
    ReconciliationError,
    write_csv,
    write_dedup_outputs,
    write_pipeline_outputs,
)
from deduper_spark.sources.readers import (
    read_csv_as_strings,
    read_sql,
    schema_probe,
)
from deduper_spark.streaming.incremental import (
    run_incremental_batches,
    watermark_dedup,
)

SF = "/root/testdata/sf0.001"


def test_csv_roundtrip_all_strings_nulls_as_empty(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", None), (2, None, 3.5)], ["id", "s", "v"]
    )
    out = str(tmp_path / "csv_out")
    write_csv(df, out)
    back = read_csv_as_strings(spark, out)
    assert [f.dataType.simpleString() for f in back.schema.fields] == ["string"] * 3
    rows = {r["id"]: r for r in back.collect()}
    assert rows["1"]["v"] == ""  # null -> '' (reference O18)
    assert rows["2"]["s"] == ""


def test_read_sql_passthrough(spark):
    spark.read.parquet(f"{SF}/nation.parquet").createOrReplaceTempView("nation_v")
    assert read_sql(spark, "nation_v").count() == 25
    assert read_sql(spark, "SELECT n_name FROM nation_v WHERE n_nationkey < 5").count() == 5


def test_schema_probe_no_rows(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet")
    s = schema_probe(df)
    assert [f.name for f in s.fields][:2] == ["o_orderkey", "o_custkey"]


def test_write_outputs_and_reconcile(spark, tmp_path):
    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    res = exact_dedup(df, ("l_orderkey", "l_partkey"), order_col="l_linenumber")
    rep = build_report(res, ["l_orderkey", "l_partkey"], df.columns,
                       collect_dupes=False)
    written = write_dedup_outputs(
        spark, res, rep,
        target_path=str(tmp_path / "target"),
        dupes_path=str(tmp_path / "dupes"),
        hashes_path=str(tmp_path / "hashes"),
    )
    assert written == {"target": rep.surviving_count,
                       "dupes": rep.distinct_dupe_count,
                       "hashes": rep.hash_count}

    # poisoned report → reconciliation must fail hard
    rep.dupe_count += 1
    with pytest.raises(ReconciliationError):
        write_dedup_outputs(spark, res, rep,
                            target_path=str(tmp_path / "target2"))


def test_pipeline_sinks_reconcile_through_one_read_back(spark, tmp_path):
    """All four pipeline sinks are counted back from storage by one
    query; the counts equal the report's, and a poisoned report still
    fails hard, naming the sink that disagrees."""
    from deduper_spark.config import DedupConfig
    from deduper_spark.pipeline import DedupPipeline
    from deduper_spark.synth import make_pdf

    df = spark.createDataFrame(make_pdf(42, 50))
    res = DedupPipeline(DedupConfig(include_json=False),
                        collect_metrics=False).run(spark, df)
    rep = res.report

    def sinks(tag: str) -> DedupConfig:
        return DedupConfig(**{f"{k}_path": str(tmp_path / tag / k) for k in
                              ("target", "dupes", "hashes", "clusters")})

    cfg = sinks("ok")
    written = write_pipeline_outputs(spark, res, rep, cfg,
                                     n_fresh=rep.record_count)
    assert written == {"target": rep.surviving_count,
                       "clusters": rep.record_count,
                       "dupes": rep.distinct_dupe_count,
                       "hashes": rep.hash_count}
    for name, n in written.items():
        assert spark.read.parquet(getattr(cfg, f"{name}_path")).count() == n

    poisoned = dataclasses.replace(rep, hash_count=rep.hash_count + 1)
    with pytest.raises(ReconciliationError, match="sink 'hashes' wrote"):
        write_pipeline_outputs(spark, res, poisoned, sinks("bad_hashes"),
                               n_fresh=rep.record_count)
    with pytest.raises(ReconciliationError, match="sink 'clusters' wrote"):
        write_pipeline_outputs(spark, res, rep, sinks("bad_clusters"),
                               n_fresh=rep.record_count + 1)
    # the ledger waits for every other sink to reconcile
    assert not (tmp_path / "bad_clusters" / "hashes").exists()


def test_failed_sink_leaves_the_hashes_ledger_untouched(spark, tmp_path):
    """The hashes ledger is what the next incremental run preloads, so
    it is written only after every other sink is written and
    reconciled: a failed target write or a failed dupes reconciliation
    leaves the previous run's ledger as it was."""
    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")],
                               "id long, k string")
    res = exact_dedup(df, ("k",), order_col="id")
    rep = build_report(res, ["k"], df.columns)
    ledger = str(tmp_path / "hashes")
    spark.createDataFrame([("prior",)], "hash string").write.parquet(ledger)

    def ledger_rows():
        return [tuple(r) for r in spark.read.parquet(ledger).collect()]

    blocker = tmp_path / "blocker"
    blocker.write_text("a file, so no sink directory fits under it")
    with pytest.raises(Exception):
        write_dedup_outputs(spark, res, rep,
                            target_path=str(blocker / "target"),
                            dupes_path=str(tmp_path / "dupes"),
                            hashes_path=ledger)
    assert ledger_rows() == [("prior",)]

    poisoned = dataclasses.replace(
        rep, distinct_dupe_count=rep.distinct_dupe_count + 1)
    with pytest.raises(ReconciliationError, match="sink 'dupes' wrote"):
        write_dedup_outputs(spark, res, poisoned,
                            target_path=str(tmp_path / "target"),
                            dupes_path=str(tmp_path / "dupes"),
                            hashes_path=ledger)
    assert ledger_rows() == [("prior",)]

    written = write_dedup_outputs(spark, res, rep, hashes_path=ledger)
    assert written == {"hashes": 2}
    assert len(ledger_rows()) == 2


def test_stream_dedup_incremental(spark, tmp_path):
    src = str(tmp_path / "src")
    schema = "id bigint, k string, v double"
    b1 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)], schema)
    b1.write.mode("append").parquet(src)

    work = str(tmp_path / "work")
    out1 = run_incremental_batches(spark, src, schema, work, ("k",))
    assert out1 == {"target": 2, "ledger": 2}  # a,b survive

    # second drop of files: one new key, two already-seen
    b2 = spark.createDataFrame(
        [(4, "c", 4.0), (5, "a", 5.0), (6, "b", 6.0)], schema)
    b2.write.mode("append").parquet(src)
    out2 = run_incremental_batches(spark, src, schema, work, ("k",))
    assert out2 == {"target": 3, "ledger": 3}  # only c added


def test_stateful_dupe_counter(spark, tmp_path):
    """applyInPandasWithState custom stateful op: per-key occurrence
    counts with bounded (timeout-evicted) state."""
    from deduper_spark.streaming.incremental import stateful_dupe_counter

    src = str(tmp_path / "src")
    schema = "id bigint, k string"
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, "a"), (5, "c")], schema
    ).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    counted = stateful_dupe_counter(stream, ("k",))
    q = (
        counted.writeStream.format("memory").queryName("dupe_counts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["n_rows"]: r["is_dupe"]
            for r in spark.sql("SELECT * FROM dupe_counts").collect()}
    # keys hash-anonymized; counts identify them: a->3, b->1, c->1
    assert rows == {3: True, 1: False}
    assert len(spark.sql("SELECT * FROM dupe_counts").collect()) == 3


def test_watermark_dedup_batch_semantics(spark):
    # dropDuplicatesWithinWatermark on a static frame degrades to
    # plain dropDuplicates — verify the API contract holds
    df = spark.createDataFrame(
        [("e1", "2024-01-01 00:00:00"), ("e1", "2024-01-01 00:01:00"),
         ("e2", "2024-01-01 00:02:00")],
        ["k", "ts"],
    ).withColumn("ts", F.to_timestamp("ts"))
    got = watermark_dedup(df, "ts", ["k"]).count()
    assert got == 2


def test_orc_roundtrip_binary_nulls_and_avro_gate(spark, tmp_path):
    """ORC connector roundtrips the engine's real payload shape (binary
    blobs, nulls, ints, strings) with parquet-style filter pushdown;
    Avro is capability-gated in this distribution (no spark-avro
    module) and must raise the clear deployment error, not a Py4J
    stack."""
    import pytest as _pytest

    from deduper_spark.sinks.writers import write_avro, write_orc
    from deduper_spark.sources.readers import (
        avro_available,
        read_avro,
        read_orc,
    )

    src = spark.createDataFrame(
        [("a", bytearray(b"\x89PNG\x00blob"), 1, None),
         ("b", None, 2, "cap"),
         ("c", bytearray(b""), None, "x")],
        "id string, bytes binary, n int, caption string")
    path = str(tmp_path / "orc")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert back.schema == src.schema
    rows = {r["id"]: r for r in back.collect()}
    assert bytes(rows["a"]["bytes"]) == b"\x89PNG\x00blob"
    assert rows["b"]["bytes"] is None and rows["b"]["caption"] == "cap"
    assert rows["c"]["n"] is None
    # pushdown evidence: the ORC scan carries the filter
    plan = read_orc(spark, path).where("n = 2") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "n" in plan.split("PushedFilters")[1][:60]

    if avro_available(spark):        # real module present: roundtrip
        apath = str(tmp_path / "avro")
        write_avro(src, apath)
        assert read_avro(spark, apath).count() == 3
    else:                            # this sandbox: clean gate
        with _pytest.raises(RuntimeError, match="spark-avro"):
            read_avro(spark, str(tmp_path / "nope"))
        with _pytest.raises(RuntimeError, match="spark-avro"):
            write_avro(src, str(tmp_path / "nope"))


def test_stream_fuzzy_dedup_cross_batch(spark, tmp_path):
    """Fuzzy streaming ingest: batch 2 rows within Hamming<=3 of batch-1
    fingerprints are dropped via the bucket ledger; within-batch near
    pairs collapse keep-first; a drained re-run ingests nothing new."""
    import time

    from deduper_spark.streaming.fuzzy import stream_fuzzy_dedup

    src = tmp_path / "src"
    src.mkdir()
    schema = "image_id string, phash long"
    P, Q, R = 0x0123456789ABCDEF, 0x7EDCBA9876543210, 0x00FF00FF00FF00FF

    def wait(q):
        q.awaitTermination(120)
        for _ in range(100):
            if not q.isActive:
                return
            time.sleep(0.2)

    # batch 1: P, Q, and an in-batch near-dup of P (1 bit off)
    spark.createDataFrame(
        [("a1", P), ("a2", Q), ("a3", P ^ 1)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    args = (spark, str(src), schema, str(tmp_path / "tgt"),
            str(tmp_path / "ledger"), str(tmp_path / "ckpt"),
            "image_id", "phash")
    wait(stream_fuzzy_dedup(*args))
    tgt = spark.read.parquet(str(tmp_path / "tgt"))
    assert {r["image_id"] for r in tgt.collect()} == {"a1", "a2"}

    # batch 2: near-dup of P (3 bits), near-dup of Q (exact), fresh R,
    # and an in-batch near pair (R^2 vs R: 1 bit -> keep-first drops b4)
    spark.createDataFrame(
        [("b1", P ^ 0b111), ("b2", Q), ("b3", R), ("b4", R ^ 2)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    wait(stream_fuzzy_dedup(*args))
    tgt = spark.read.parquet(str(tmp_path / "tgt"))
    assert {r["image_id"] for r in tgt.collect()} == {"a1", "a2", "b3"}

    # drained re-run: nothing new, outputs unchanged (idempotent)
    wait(stream_fuzzy_dedup(*args))
    assert spark.read.parquet(str(tmp_path / "tgt")).count() == 3

    # batch 3: a single all-fresh row (no in-batch pairs at all — the
    # empty-CC-input path) survives
    S = 0x5500AA0055AA00AA
    spark.createDataFrame([("c1", S)], schema) \
        .coalesce(1).write.mode("append").parquet(str(src))
    wait(stream_fuzzy_dedup(*args))
    tgt = spark.read.parquet(str(tmp_path / "tgt"))
    assert {r["image_id"] for r in tgt.collect()} == {"a1", "a2", "b3", "c1"}
    ledger = spark.read.parquet(str(tmp_path / "ledger"))
    # ledger holds 4 band rows per survivor (band_bits=16)
    assert ledger.count() == 4 * 4
    assert {r["image_id"] for r in
            ledger.select("image_id").distinct().collect()} == {
        "a1", "a2", "b3", "c1"}


def test_stream_fuzzy_dedup_matches_union_find_oracle(spark, tmp_path):
    """Adversarial chained-fingerprint corpus (most rows within
    Hamming 3 of several others): the streaming result must equal an
    independent union-find oracle applying the engine's declared
    semantics — ledger filter vs retained representatives, then
    CC keep-first within the batch."""
    import time

    from deduper_spark.streaming.fuzzy import stream_fuzzy_dedup

    schema = "image_id string, phash long"
    b1 = [("x%02d" % i, (i << 8) | 0xA5) for i in range(20)]
    b2 = ([("y%02d" % i, ((i << 8) | 0xA5) ^ 0b11) for i in range(10)]
          + [("z%02d" % i, (1 << 60) | (i << 16)) for i in range(5)])
    fps = dict(b1 + b2)

    def ham(a, b):
        return bin(a ^ b).count("1")

    retained = []
    for batch in (b1, b2):
        fresh = [r for r, _ in batch
                 if not any(ham(fps[r], fps[o]) <= 3 for o in retained)]
        parent = {r: r for r in fresh}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, a in enumerate(fresh):
            for b in fresh[i + 1:]:
                if ham(fps[a], fps[b]) <= 3:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        comps = {}
        for r in fresh:
            comps.setdefault(find(r), []).append(r)
        retained += [min(v) for v in comps.values()]

    src = tmp_path / "src"
    src.mkdir()
    args = (spark, str(src), schema, str(tmp_path / "tgt"),
            str(tmp_path / "led"), str(tmp_path / "ck"),
            "image_id", "phash")

    def drain(q):
        q.awaitTermination(120)
        while q.isActive:
            time.sleep(0.2)

    for batch in (b1, b2):
        spark.createDataFrame(batch, schema).coalesce(1) \
            .write.mode("append").parquet(str(src))
        drain(stream_fuzzy_dedup(*args))
    got = {r["image_id"] for r in
           spark.read.parquet(str(tmp_path / "tgt")).collect()}
    assert got == set(retained)
