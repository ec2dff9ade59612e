"""End-to-end pipeline tests on the deterministic synthetic corpus:
golden cluster assignments, dup-pair recall >= 0.99, fidelity
invariants, family-selective runs, checkpoint resume.
(Golden pattern: reference DeduperTest.kt:46-83 + BASELINE.json targets.)
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from deduper_spark.config import DedupConfig, FuzzyConfig
from deduper_spark.functions.phash import decode_image, psnr_db
from deduper_spark.pipeline import DedupPipeline
from deduper_spark.synth import expected_clusters, expected_dup_pairs, make_pdf

SEED = 42
N = 200


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = make_pdf(SEED, N)
    return spark.createDataFrame(pdf).cache()


@pytest.fixture(scope="module")
def result(spark, corpus):
    return DedupPipeline(DedupConfig()).run(spark, corpus)


def _pairs_from_clusters(clusters) -> set[tuple[str, str]]:
    byc: dict[str, list[str]] = {}
    for r in clusters:
        byc.setdefault(r["cluster_id"], []).append(r["image_id"])
    pairs = set()
    for ids in byc.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    return pairs


def test_recall_against_golden(result):
    got = _pairs_from_clusters(result.clusters.collect())
    want = expected_dup_pairs(SEED, N)
    recall = len(got & want) / len(want)
    precision = len(got & want) / max(len(got), 1)
    assert recall >= 0.99, f"recall {recall}: missing {sorted(want - got)[:10]}"
    assert precision >= 0.99, f"precision {precision}: extra {sorted(got - want)[:10]}"


def test_cluster_assignments_exact_golden(result):
    got = {r["image_id"]: r["cluster_id"] for r in result.clusters.collect()}
    want = dict(
        expected_clusters(SEED, N)[["image_id", "cluster_id"]].itertuples(
            index=False, name=None
        )
    )
    mismatches = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    assert not mismatches, f"{len(mismatches)} mismatches: {list(mismatches.items())[:5]}"


def test_report_counters(result):
    rep = result.report
    # per block of 10: 6 survivors, 4 dupes
    assert rep.record_count == N
    assert rep.dupe_count == N // 10 * 4
    assert rep.distinct_dupe_count == N // 10 * 4  # 4 groups of size 2 per block
    assert rep.surviving_count == N - rep.dupe_count
    assert rep.success


def test_survivors_keep_first_and_fidelity(result, corpus):
    """Survivor = min image_id per cluster; fidelity invariants: within
    each cluster, decoded pixels of every member vs survivor have
    PSNR >= 40 dB (BASELINE.json input_hint)."""
    surv_ids = {r["image_id"] for r in result.survivors.select("image_id").collect()}
    clusters = result.clusters.collect()
    byc: dict[str, list[str]] = {}
    for r in clusters:
        byc.setdefault(r["cluster_id"], []).append(r["image_id"])
    for cid, members in byc.items():
        assert min(members) == cid
        assert cid in surv_ids
        assert all(m not in surv_ids for m in members if m != cid)

    rows = {r["image_id"]: r for r in corpus.collect()}
    checked = 0
    for cid, members in byc.items():
        if len(members) == 1:
            continue
        surv_px = decode_image(bytes(rows[cid]["bytes"]))
        for m in members:
            if m == cid:
                continue
            px = decode_image(bytes(rows[m]["bytes"]))
            p = psnr_db(surv_px, px)
            # caption-variant dups share identical pixels (psnr inf);
            # re-encodes must clear 40 dB
            assert p >= 40.0, f"{cid}->{m} psnr {p}"
            checked += 1
    assert checked >= N // 10 * 3


def test_family_selective_minhash_only(spark, corpus):
    """MinHash family alone must catch the caption-near class (role 8)."""
    res = DedupPipeline(DedupConfig(), families=("minhash",)).run(spark, corpus)
    got = _pairs_from_clusters(res.clusters.collect())
    for b in range(N // 10):
        pair = (f"img{b*10+2:09d}", f"img{b*10+8:09d}")
        assert pair in got, f"minhash missed caption-near {pair}"


def test_family_selective_substring_only(spark, corpus):
    res = DedupPipeline(DedupConfig(), families=("substring",)).run(spark, corpus)
    got = _pairs_from_clusters(res.clusters.collect())
    for b in range(N // 10):
        pair = (f"img{b*10+3:09d}", f"img{b*10+9:09d}")
        assert pair in got, f"substring missed {pair}"


def test_family_selective_phash_only(spark, corpus):
    """phash family alone: exact + re-encode classes (pixel-identical
    or near-identical images)."""
    res = DedupPipeline(DedupConfig(), families=("phash",)).run(spark, corpus)
    got = _pairs_from_clusters(res.clusters.collect())
    for b in range(N // 10):
        assert (f"img{b*10+1:09d}", f"img{b*10+7:09d}") in got


def test_checkpoint_resume(spark, corpus, tmp_path):
    cfg = DedupConfig(checkpoint_dir=str(tmp_path), run_id="r1")
    p1 = DedupPipeline(cfg)
    r1 = p1.run(spark, corpus)
    n1 = r1.clusters.count()
    assert os.path.exists(tmp_path / "r1" / "metrics.json")
    with open(tmp_path / "r1" / "metrics.json") as f:
        m = json.load(f)
    assert {s["stage"] for s in m["stages"]} >= {"features", "edges", "clusters"}

    # second run resumes from checkpoints (all stages marked resumed)
    p2 = DedupPipeline(cfg)
    r2 = p2.run(spark, corpus)
    resumed = [s for s in p2.metrics if s.get("resumed")]
    assert {s["stage"] for s in resumed} == {"features", "edges", "clusters"}
    assert r2.clusters.count() == n1


def _probe_job_ids(spark, group: str) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    spark.range(1).count()
    ids = sc.statusTracker().getJobIdsForGroup(group)
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    return ids


def _sink_paths(tmp_path) -> dict[str, str]:
    return {f"{k}_path": str(tmp_path / k)
            for k in ("target", "dupes", "hashes", "clusters")}


def test_every_job_of_a_run_is_in_the_callers_job_group(spark, corpus,
                                                         tmp_path):
    """The PSNR audit thread and the concurrent sink writers inherit the
    caller's job group, so stage accounting by job group (bench.py,
    perfbench's Tracer) sees every job of the run."""
    sc = spark.sparkContext
    before = max(_probe_job_ids(spark, "probe-before"))
    cfg = DedupConfig(fuzzy=FuzzyConfig(psnr_mode="audit"),
                      **_sink_paths(tmp_path))
    pipe = DedupPipeline(cfg, collect_metrics=False)
    sc.setJobGroup("g", "pipeline run")
    try:
        pipe.run(spark, corpus)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    after = min(_probe_job_ids(spark, "probe-after"))
    run_jobs = set(range(before + 1, after))
    assert any(m["stage"] == "psnr_audit" for m in pipe.metrics)
    assert any(m["stage"] == "sinks" for m in pipe.metrics)
    assert run_jobs
    assert run_jobs <= set(sc.statusTracker().getJobIdsForGroup("g"))


def test_failed_psnr_audit_fails_the_run_and_writes_no_sink(spark, corpus,
                                                            tmp_path):
    """No decoded pair reaches 1e9 dB except byte-identical copies
    (PSNR inf), so the corpus's lossy re-encodes fail the audit: the
    run raises before any sink is written."""
    sinks = _sink_paths(tmp_path)
    cfg = DedupConfig(fuzzy=FuzzyConfig(psnr_mode="audit",
                                        psnr_threshold_db=1e9), **sinks)
    with pytest.raises(RuntimeError, match="PSNR fidelity audit failed"):
        DedupPipeline(cfg, collect_metrics=False).run(spark, corpus)
    assert not any(os.path.exists(p) for p in sinks.values())

    res = DedupPipeline(cfg, collect_metrics=False).run_safe(spark, corpus)
    assert res.report.success is False
    assert not any(os.path.exists(p) for p in sinks.values())
