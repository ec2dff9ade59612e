"""Hot-bucket salting, failure-report path, sample-hash probe."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deduper_spark.config import DedupConfig
from deduper_spark.operators.lsh import (
    SALT_CAP,
    candidate_pairs,
    hamming_candidate_pairs,
)
from deduper_spark.pipeline import DedupPipeline
from deduper_spark.synth import make_pdf


def test_salted_hot_bucket_bounded_pairs(spark):
    # one hot bucket of 100 members, cap 10 → salting into ~10 sub-buckets
    rows = [(f"x{i:03d}", 0, 7, "f") for i in range(100)]
    bb = spark.createDataFrame(rows, ["id", "band", "bucket", "family"])
    pairs_salt, dropped_salt = candidate_pairs(bb, max_bucket_size=10)
    n_salt = pairs_salt.count()
    full = 100 * 99 // 2
    assert 0 < n_salt < full * 0.3  # quadratic blowup defused
    assert dropped_salt.count() == 0  # salted, not dropped

    # beyond SALT_CAP → dropped and reported by both pair generators
    cap = spark.range(SALT_CAP + 1).select(
        F.col("id"), F.lit(0).alias("band"), F.lit(7).cast("long").alias("bucket"),
        F.lit("f").alias("family"), F.lit(0).cast("long").alias("val"),
        F.lit(0).alias("max_ham"))
    for gen in (candidate_pairs, hamming_candidate_pairs):
        pairs_cap, dropped_cap = gen(cap, max_bucket_size=10)
        assert pairs_cap.count() == 0
        assert [r["bucket_size"] for r in dropped_cap.collect()] == \
            [SALT_CAP + 1]


def test_salting_preserves_recall(spark):
    """End-to-end recall must survive salting (true dups share many
    buckets, so per-bucket pair loss doesn't lose cluster edges)."""
    pdf = make_pdf(42, 100)
    df = spark.createDataFrame(pdf)
    res = DedupPipeline(DedupConfig()).run(spark, df)
    assert res.report.dupe_count == 40


def test_run_safe_failure_report(spark):
    bad = spark.createDataFrame([("a",)], ["image_id"])  # missing columns
    res = DedupPipeline(DedupConfig()).run_safe(spark, bad)
    assert res.report.success is False
    assert any(m.get("stage") == "error" for m in res.metrics)
    assert res.clusters.count() == 0


def test_null_and_empty_captions_tolerated(spark):
    """Null tolerance (reference DeduperTest.kt:353-392): null/empty
    captions flow through every signature family without crashing and
    cluster together via the exact/phash paths."""
    pdf = make_pdf(42, 20)
    df = spark.createDataFrame(pdf)
    patched = df.selectExpr(
        "image_id", "bytes", "w", "h", "fmt",
        "CASE WHEN image_id = 'img000000004' THEN NULL "
        "     WHEN image_id = 'img000000005' THEN '' ELSE caption END AS caption",
        "phash",
    )
    res = DedupPipeline(DedupConfig()).run(spark, patched)
    assert res.report.success
    assert res.clusters.count() == 20
    got = {r["image_id"]: r["cluster_id"] for r in res.clusters.collect()}
    assert got["img000000004"] == "img000000004"  # nulled caption → singleton


def test_explain_key_probe(spark):
    pdf = make_pdf(42, 10)
    df = spark.createDataFrame(pdf)
    s, h = DedupPipeline(DedupConfig()).explain_key(df)
    first = pdf.iloc[0]
    assert s == f"{first['caption']}, {first['phash']}"
    assert len(h) == 32 and h == h.upper()
