"""Round-5 regressions.

1. DedupConfig.hash_keys drives the flagship pipeline (was a silent
   no-op — the documented knob, config.py:72, reference hashKeys
   contract Config.kt:19-24, was ignored by DedupPipeline.features()).
2. ngram_jaccard_pairs spreads large admitted blocks with the
   triangle-block decomposition (exactly-once pair semantics
   preserved; per-cell comparison count bounded).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deduper_spark.config import DedupConfig
from deduper_spark.pipeline import DedupPipeline


@pytest.fixture(scope="module")
def tiny(spark):
    # two rows sharing a caption but NOT a phash, plus a singleton
    rows = [
        ("img-000", "a red bicycle on a bridge", 111),
        ("img-001", "a red bicycle on a bridge", 222),
        ("img-002", "an entirely different caption", 333),
    ]
    return spark.createDataFrame(
        rows, "image_id string, caption string, phash long"
    ).cache()


def _run(spark, df, **cfg_kw):
    pipe = DedupPipeline(DedupConfig(**cfg_kw), families=("exact",),
                         collect_metrics=False)
    return pipe.run(spark, df)


def test_default_keys_keep_caption_phash(spark, tiny):
    res = _run(spark, tiny)
    assert res.report.hash_columns == ["caption", "phash"]
    # different phash => different exact key => no dupes
    assert res.report.dupe_count == 0
    assert res.survivors.count() == 3


def test_hash_keys_honored_by_pipeline(spark, tiny):
    res = _run(spark, tiny, hash_keys=("caption",))
    assert res.report.hash_columns == ["caption"]
    # caption-only key: img-000/img-001 collapse, keep-first wins
    assert res.report.dupe_count == 1
    assert res.report.hash_count == 2
    surv = {r["image_id"] for r in res.survivors.collect()}
    assert surv == {"img-000", "img-002"}


def test_hash_keys_honored_by_explain_key(spark, tiny):
    pipe_def = DedupPipeline(DedupConfig())
    pipe_cap = DedupPipeline(DedupConfig(hash_keys=("caption",)))
    s_def, h_def = pipe_def.explain_key(tiny)
    s_cap, h_cap = pipe_cap.explain_key(tiny)
    assert s_def == "a red bicycle on a bridge, 111"
    assert s_cap == "a red bicycle on a bridge"
    assert h_def != h_cap


def test_hash_keys_validated(spark, tiny):
    with pytest.raises(ValueError, match="nope"):
        _run(spark, tiny, hash_keys=("caption", "nope"))


def test_hash_keys_incremental_preload(spark, tiny, tmp_path):
    """Seen-hash preload joins on the SAME configured key: a ledger of
    caption-only hashes marks both caption-sharers as seen."""
    from deduper_spark.functions.keys import md5_key_expr

    seen_dir = str(tmp_path / "seen")
    (tiny.where(F.col("image_id") == "img-000")
     .select(md5_key_expr(["caption"]).alias("hash"))
     .write.parquet(seen_dir))
    res = _run(spark, tiny, hash_keys=("caption",),
               seen_hashes_path=seen_dir)
    # both rows of the seen caption drop; only the singleton survives
    assert {r["image_id"] for r in res.survivors.collect()} == {"img-002"}
    assert res.report.dupe_count == 2
    assert res.report.record_count == 3


# ---------------------------------------------------------------- ngram


def _ngram_corpus(spark, n=40):
    # one shared 5-token prefix => a single block of n rows; suffixes
    # vary so jaccards differ
    rows = [
        (f"doc_{i:03d}",
         "alpha beta gamma delta epsilon " + " ".join(
             f"w{(i * 7 + j) % 13}" for j in range(6)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_ngram_triangle_blocks_exact_parity(spark):
    """Decomposed (max_task_rows=10 over a 40-row block => n_sub=4)
    emits exactly the same pair set as the single-cell run — every
    intra-block pair exactly once."""
    from deduper_spark.operators.dedup_text import ngram_jaccard_pairs

    df = _ngram_corpus(spark, 40)
    split, _ = ngram_jaccard_pairs(df, threshold=0.0, max_task_rows=10)
    whole, _ = ngram_jaccard_pairs(df, threshold=0.0, max_task_rows=10**9)
    got = {(r["id_l"], r["id_r"], r["jaccard"]) for r in split.collect()}
    want = {(r["id_l"], r["id_r"], r["jaccard"]) for r in whole.collect()}
    assert got == want
    assert len(got) == 40 * 39 // 2          # all pairs, each once
    assert all(a < b for a, b, _ in got)     # canonical order held


def test_ngram_triangle_blocks_bound_per_cell(spark):
    """No (bu, bv) cell carries more than ~max_task_rows rows per side:
    replicate the decomposition's u-assignment and check the cell
    comparison counts against the one-task quadratic."""
    from pyspark.sql import functions as F

    n, max_task_rows = 40, 10
    df = _ngram_corpus(spark, n).select(F.col("doc_id").alias("id"))
    n_sub = -(-n // max_task_rows)  # 4
    u = {r["id"]: r["u"] for r in df.select(
        "id", F.pmod(F.xxhash64("id"), F.lit(n_sub)).cast("int").alias("u")
    ).collect()}
    from collections import Counter
    side = Counter(u.values())
    cells = Counter()
    for a in range(n_sub):
        for b in range(a, n_sub):
            cells[(a, b)] = (side[a] * (side[a] - 1) // 2 if a == b
                             else side[a] * side[b])
    assert sum(cells.values()) == n * (n - 1) // 2  # exact cover
    # spread: the max cell is far below the single-task quadratic; with
    # a hash-balanced split each side is ~max_task_rows so the bound is
    # ~max_task_rows^2 with slack for hash imbalance
    assert max(cells.values()) <= 4 * max_task_rows * max_task_rows
    assert max(cells.values()) < n * (n - 1) // 2 / 2


# ------------------------------------------------------------- jpeg SOS


def test_jpeg_scan_missing_component_named_error(spark):
    """A structurally valid JPEG whose SOS references a component id
    absent from the SOF must raise the NAMED validation error before
    entropy decode, not a wrapped KeyError (ADVICE r4: validate the
    scan/frame linkage up front)."""
    import numpy as np
    import pytest as _pytest

    from deduper_spark.functions import jpeg

    img = np.random.default_rng(0).integers(
        0, 255, (16, 16, 3)).astype(np.uint8)
    data = bytearray(jpeg.encode_jpeg(img))
    j = data.find(b"\xff\xda")
    data[j + 5] = 9                       # first scan component id -> 9
    with _pytest.raises(ValueError, match="missing frame component"):
        jpeg.decode_jpeg(bytes(data))


# ---------------------------------------------------- streaming fuzzy


def _wait(q):
    import time

    q.awaitTermination(120)
    for _ in range(100):
        if not q.isActive:
            return
        time.sleep(0.2)


def _feed(spark, src, rows):
    spark.createDataFrame(rows, "image_id string, phash long") \
        .coalesce(1).write.mode("append").parquet(str(src))


def test_stream_fuzzy_sizing_reads_snapshot_not_ledger(spark, tmp_path):
    """Per-batch sizing work is independent of batch COUNT: the guard
    reads the single latest size snapshot (one partition, constant
    file count) and never rescans the raw ledger. Snapshot content
    stays in exact parity with a from-scratch ledger aggregation."""
    from pyspark.sql import functions as F

    from deduper_spark.streaming.fuzzy import (
        sizes_snapshot_df,
        stream_fuzzy_dedup,
    )

    src = tmp_path / "src"
    src.mkdir()
    metrics = []
    args = (spark, str(src), "image_id string, phash long",
            str(tmp_path / "tgt"), str(tmp_path / "ledger"),
            str(tmp_path / "ckpt"), "image_id", "phash")
    file_counts = []
    for b in range(4):
        _feed(spark, src, [(f"r{b}_{i}", (b << 32) | (i << 8))
                           for i in range(6)])
        _wait(stream_fuzzy_dedup(*args, on_metrics=metrics.append))
        snap, snap_id = sizes_snapshot_df(
            spark, str(tmp_path / "ledger_sizes"), 10**9)
        files = snap.inputFiles()
        file_counts.append(len(files))
        assert all(f"batch_id={snap_id}" in f for f in files)
        assert all("ledger_sizes" in f for f in files)  # never the ledger
    # constant per-batch sizing input as batches accumulate
    assert len(set(file_counts)) == 1
    # batches >= 2 sized from the snapshot, not a ledger rescan
    assert all(m["sizing_source"].startswith("snapshot:")
               for m in metrics)
    # exact parity with a from-scratch ledger aggregation
    snap, _ = sizes_snapshot_df(
        spark, str(tmp_path / "ledger_sizes"), 10**9)
    want = {(r["band"], r["bucket"]): r["n"] for r in
            spark.read.parquet(str(tmp_path / "ledger"))
            .groupBy("band", "bucket").agg(F.count("*").alias("n"))
            .collect()}
    got = {(r["band"], r["bucket"]): r["lsz"] for r in snap.collect()}
    assert got == want
    # old snapshots pruned: at most the read-base and the latest remain
    from deduper_spark.streaming.fuzzy import _snapshot_ids
    assert len(_snapshot_ids(spark, str(tmp_path / "ledger_sizes"))) <= 2


def test_stream_fuzzy_sizes_rebuild_after_deletion(spark, tmp_path):
    """Deleting the sizes dir triggers the documented one-time repair:
    the next batch sizes from the raw ledger (sizing_source=rebuild)
    and writes back a COMPLETE snapshot, after which steady state
    resumes."""
    import shutil

    from pyspark.sql import functions as F

    from deduper_spark.streaming.fuzzy import (
        sizes_snapshot_df,
        stream_fuzzy_dedup,
    )

    src = tmp_path / "src"
    src.mkdir()
    metrics = []
    args = (spark, str(src), "image_id string, phash long",
            str(tmp_path / "tgt"), str(tmp_path / "ledger"),
            str(tmp_path / "ckpt"), "image_id", "phash")
    _feed(spark, src, [("a1", 1 << 40), ("a2", 1 << 50)])
    _wait(stream_fuzzy_dedup(*args, on_metrics=metrics.append))
    shutil.rmtree(tmp_path / "ledger_sizes")
    _feed(spark, src, [("b1", 1 << 20)])
    _wait(stream_fuzzy_dedup(*args, on_metrics=metrics.append))
    assert metrics[-1]["sizing_source"] == "rebuild"
    snap, _ = sizes_snapshot_df(
        spark, str(tmp_path / "ledger_sizes"), 10**9)
    want = {(r["band"], r["bucket"]): r["n"] for r in
            spark.read.parquet(str(tmp_path / "ledger"))
            .groupBy("band", "bucket").agg(F.count("*").alias("n"))
            .collect()}
    got = {(r["band"], r["bucket"]): r["lsz"] for r in snap.collect()}
    assert got == want                       # repaired snapshot complete
    _feed(spark, src, [("c1", 1 << 10)])
    _wait(stream_fuzzy_dedup(*args, on_metrics=metrics.append))
    assert metrics[-1]["sizing_source"].startswith("snapshot:")


def test_stream_fuzzy_bucketed_ledger_table(spark, tmp_path):
    """ledger_table mode: same dedup results as the parquet-dir mode,
    and the cold probe join consumes the table's bucket layout — zero
    Exchange above the bucketed ledger scan."""
    from pyspark.sql import functions as F

    from deduper_spark.streaming.fuzzy import (
        _band_rows,
        cold_probe_join,
        sizes_snapshot_df,
        stream_fuzzy_dedup,
    )

    P, Q, R = 0x0123456789ABCDEF, 0x7EDCBA9876543210, 0x00FF00FF00FF00FF
    src = tmp_path / "src"
    src.mkdir()
    args = (spark, str(src), "image_id string, phash long",
            str(tmp_path / "tgt"), str(tmp_path / "ledger"),
            str(tmp_path / "ckpt"), "image_id", "phash")
    try:
        _feed(spark, src, [("a1", P), ("a2", Q), ("a3", P ^ 1)])
        _wait(stream_fuzzy_dedup(*args, ledger_table="led_r5"))
        _feed(spark, src, [("b1", P ^ 0b111), ("b2", Q), ("b3", R),
                           ("b4", R ^ 2)])
        _wait(stream_fuzzy_dedup(*args, ledger_table="led_r5"))
        tgt = spark.read.parquet(str(tmp_path / "tgt"))
        # identical retention to test_stream_fuzzy_dedup_cross_batch
        assert {r["image_id"] for r in tgt.collect()} == {"a1", "a2", "b3"}
        led = spark.table("led_r5")
        assert {r["image_id"] for r in
                led.select("image_id").distinct().collect()} == {
            "a1", "a2", "b3"}

        # plan: rebuild the guard's cold probe join against the table
        # and assert the ledger side is consumed in place
        old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            batch = spark.createDataFrame(
                [("p1", P ^ 2)], "image_id string, phash long")
            bands = _band_rows(batch, "image_id", "phash", 16, 3)
            ledger = led.select("band", "bucket",
                                F.col("val").alias("val_r"))
            cold, _ = sizes_snapshot_df(
                spark, str(tmp_path / "ledger_sizes"), 10**9)
            seen = cold_probe_join(
                bands, ledger, cold.select("band", "bucket"), 3)
            plan = seen._jdf.queryExecution().executedPlan().toString()
            assert "SelectedBucketsCount: 16 out of 16" in plan
            # the bucketed ledger scan must not sit under ANY Exchange:
            # walk its ancestor chain by tree indentation (a node's
            # ancestors are the nearest lines above whose branch marker
            # sits further left) and assert none is an Exchange —
            # probe/cold sides are free to shuffle (they are O(batch))
            lines = plan.splitlines()

            def _depth(ln):
                for m in (":- ", "+- "):
                    if m in ln:
                        return ln.index(m)
                return -1           # root

            scan_i = next(i for i, ln in enumerate(lines)
                          if "Bucketed: true" in ln)
            d = _depth(lines[scan_i])
            ancestors = []
            for i in range(scan_i - 1, -1, -1):
                di = _depth(lines[i])
                if di < d:
                    ancestors.append(lines[i])
                    d = di
                if d == -1:
                    break
            assert ancestors, plan
            assert not any("Exchange" in a for a in ancestors), \
                "\n".join(ancestors)
            n_rows = seen.count()
            assert n_rows >= 1               # p1 within Hamming 1 of P
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
            spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    finally:
        spark.sql("DROP TABLE IF EXISTS led_r5")


def test_compact_absent_target_honors_id_type(spark, tmp_path):
    """Empty-path return schema must match the populated path for
    non-string id columns (ADVICE r4)."""
    from deduper_spark.streaming.fuzzy import compact_streaming_output

    out = compact_streaming_output(
        spark, str(tmp_path / "never_written"), "doc_id", "fp",
        id_type="bigint")
    assert dict(out.dtypes)["doc_id"] == "bigint"
    assert out.count() == 0


def test_hash_keys_can_include_order_col(spark, tiny):
    """order_col is a legal hash key: features computes the key over
    the SOURCE columns before the id rename."""
    res = _run(spark, tiny, hash_keys=("image_id", "caption"))
    assert res.report.hash_columns == ["image_id", "caption"]
    # ids are unique => no dupes even with a shared caption
    assert res.report.dupe_count == 0
    assert res.report.hash_count == 3


def test_sizes_snapshot_df_empty_states(spark, tmp_path):
    from deduper_spark.streaming.fuzzy import sizes_snapshot_df

    df, sid = sizes_snapshot_df(spark, str(tmp_path / "absent"), 5)
    assert df is None and sid is None
    d = tmp_path / "present"
    d.mkdir()
    (d / "not_a_partition").mkdir()
    df, sid = sizes_snapshot_df(spark, str(d), 5)
    assert df is None and sid is None
