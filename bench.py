"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full materialization,
no driver collect); the image pipeline is timed through its own actions
and reported with an images/sec figure as well.

Scaling-efficiency evidence (local[8] vs local[32]) is recorded in
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cpu_jiffies() -> tuple[int, int]:
    parts = open("/proc/stat").readline().split()[1:]
    vals = [int(x) for x in parts]
    return sum(vals), vals[3] + vals[4]       # (total, idle+iowait)


def _load1() -> float:
    return float(open("/proc/loadavg").read().split()[0])


class _HostLabels:
    """Per-query host-state labels (round-4 verdict task 5: the bench
    must self-label tenant noise so a wall-clock swing on an identical
    plan adjudicates itself). For each timed window: 1-min load BEFORE
    the query, an INSTANTANEOUS busy-core sample BEFORE the query
    (200 ms /proc/stat delta while our own session is idle — pure
    tenant signal; 1-min load lags by minutes and mislabels the decay
    tail of a burst as dirty), the host-wide busy-core average OVER
    the window (own job + tenants), and the clean verdict:
    busy_before <= 4 tenant cores, falling back to load_before < 3.0
    when the sample is high — both must look dirty for the label to
    be dirty."""

    CLEAN_LOAD = 3.0
    CLEAN_TENANT_CORES = 4.0

    def __init__(self) -> None:
        self.labels: dict[str, dict] = {}

    @staticmethod
    def _busy_sample(dt: float = 0.2) -> float:
        tot0, idle0 = _cpu_jiffies()
        time.sleep(dt)
        tot1, idle1 = _cpu_jiffies()
        return ((tot1 - tot0) - (idle1 - idle0)) / max(tot1 - tot0, 1) \
            * (os.cpu_count() or 1)

    def start(self, name: str) -> None:
        self._pending = (name, _load1(), self._busy_sample(),
                         _cpu_jiffies())

    def stop(self) -> None:
        name, load_before, busy_before, (tot0, idle0) = self._pending
        tot1, idle1 = _cpu_jiffies()
        busy = ((tot1 - tot0) - (idle1 - idle0)) / max(tot1 - tot0, 1) \
            * (os.cpu_count() or 1)
        self.labels[name] = {
            "load_before": round(load_before, 2),
            "busy_before": round(busy_before, 1),
            "busy_cores": round(busy, 1),
            "clean": (busy_before <= self.CLEAN_TENANT_CORES
                      or load_before < self.CLEAN_LOAD),
        }


def _stage_count(spark, group: str) -> int:
    """Stages a job group ran (last attempt COMPLETE or FAILED; skipped
    stages, whose shuffle output was reused, are not counted) — the
    regression pin: wall time swings 2-3x with tenant noise, stage-count
    creep does not."""
    from perfbench.probe import stage_stats

    return int(stage_stats(spark, group)["stages"])


def main() -> None:
    from deduper_spark.session import get_spark, host_cpus

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = host_cpus()
    sf = _sf_from_dir(sf_dir)
    no_aqe = "--no-aqe" in sys.argv
    launch_load = round(_load1(), 2)

    extra = {"spark.sql.adaptive.enabled": "false"} if no_aqe else None
    spark = get_spark("bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qfns = entry.queries()
    timings: dict[str, float] = {}

    # JVM warmup before the timed loop: the session's first job pays
    # one-time codegen JIT + scan-path init (steady-state exclusion:
    # a long-lived cluster pays it at startup, not per job)
    _force(qfns["agg_pricing"](spark, sf_dir))

    # ---- relational / text / vector headline queries -------------------
    headline = [
        "exact_dedup_survivors",
        "dupe_groups",
        "incremental_anti",
        "agg_pricing",
        "join_agg",
        "window_topk",
        "doc_minhash_lsh",
        "doc_ngram_jaccard",
        "doc_substring_sa",
        "doc_chunk_dedup",
        "clean_corpus",
        "doc_cluster_assign",
        "emb_cosine_dups",
        "semantic_prune",
        "ann_topk",
        "event_sessions",
    ]
    stage_counts: dict[str, int] = {}
    host = _HostLabels()
    for name in headline:
        spark.sparkContext.setJobGroup(name, name)
        host.start(name)
        t0 = time.time()
        _force(qfns[name](spark, sf_dir))
        timings[name] = round(time.time() - t0, 3)
        host.stop()
        stage_counts[name] = _stage_count(spark, name)

    # ---- flagship: image near-dup pipeline at sf-scaled corpus ---------
    from deduper_spark.config import DedupConfig, FuzzyConfig
    from deduper_spark.pipeline import DedupPipeline
    from deduper_spark.synth import make_df

    n_images = max(2_000, int(sf * 200_000))
    df = make_df(spark, seed=42, n=n_images)
    df = df.persist()
    df.count()  # materialize synth outside the timed window
    # steady-state warmup: one tiny end-to-end run first — the first
    # execution of the pipeline DAG pays one-time JVM costs (codegen
    # JIT, Arrow init) a long-lived cluster pays at startup, not per
    # job (same exclusion as the warmup above)
    _w = make_df(spark, seed=43, n=1000).persist()
    _w.count()
    DedupPipeline(
        DedupConfig(fuzzy=FuzzyConfig(psnr_mode="audit"),
            # no JSON-ledger export in the benchmark: carrying raw
            # captions through the bandwidth-bound features stage
            # is the export path, not the dedup path
            include_json=False),
        collect_metrics=False,
    ).run(spark, _w)
    _w.unpersist()
    spark.sparkContext.setJobGroup("image_dedup_pipeline",
                                   "image_dedup_pipeline")
    host.start("image_dedup_pipeline")
    t0 = time.time()
    # audit PSNR = the production path (capped fidelity sample);
    # exhaustive pixel verification is exercised by the test suite
    res = DedupPipeline(
        DedupConfig(fuzzy=FuzzyConfig(psnr_mode="audit"),
            # no JSON-ledger export in the benchmark: carrying raw
            # captions through the bandwidth-bound features stage
            # is the export path, not the dedup path
            include_json=False),
        collect_metrics=False,
    ).run(spark, df)
    _force(res.clusters)
    image_sec = round(time.time() - t0, 3)
    host.stop()
    timings["image_dedup_pipeline"] = image_sec
    stage_counts["image_dedup_pipeline"] = _stage_count(
        spark, "image_dedup_pipeline")
    df.unpersist()

    # ---- audio near-dup over real WAV blobs (gain-invariant
    # fingerprint through the same inline-Hamming LSH path) -------------
    from deduper_spark.operators.multimodal import audio_dedup_pairs
    from deduper_spark.synth import make_audio_df

    n_audio = max(500, int(sf * 20_000))
    adf = make_audio_df(spark, seed=42, n=n_audio).persist()
    adf.count()  # synth outside the timed window (decode IS timed)
    spark.sparkContext.setJobGroup("audio_dedup", "audio_dedup")
    host.start("audio_dedup")
    t0 = time.time()
    _force(audio_dedup_pairs(adf))
    audio_sec = round(time.time() - t0, 3)
    host.stop()
    timings["audio_dedup"] = audio_sec
    stage_counts["audio_dedup"] = _stage_count(spark, "audio_dedup")
    adf.unpersist()

    # ---- video near-dup over real MJPEG-AVI blobs (zero-transcode
    # frame sampling + batched-LUT JPEG decode of sampled frames) ------
    from deduper_spark.operators.multimodal import video_dedup_pairs
    from deduper_spark.synth import make_video_df

    n_video = max(200, int(sf * 10_000))
    vdf = make_video_df(spark, seed=42, n=n_video).persist()
    vdf.count()  # synth outside the timed window (decode IS timed)
    spark.sparkContext.setJobGroup("video_dedup", "video_dedup")
    host.start("video_dedup")
    t0 = time.time()
    _force(video_dedup_pairs(vdf, every_n=2))
    video_sec = round(time.time() - t0, 3)
    host.stop()
    timings["video_dedup"] = video_sec
    stage_counts["video_dedup"] = _stage_count(spark, "video_dedup")
    vdf.unpersist()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "images": n_images,
        "images_per_sec": round(n_images / image_sec, 1),
        "audio_clips": n_audio,
        "audio_clips_per_sec": round(n_audio / audio_sec, 1),
        "video_clips": n_video,
        "video_clips_per_sec": round(n_video / video_sec, 1),
        "cpus": cpus,
        "aqe": not no_aqe,
        "stages": stage_counts,
        "host": {
            "launch_load1": launch_load,
            "cpu_count": os.cpu_count(),
            "labels": host.labels,
            "clean_run": all(v["clean"] for v in host.labels.values()),
        },
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
