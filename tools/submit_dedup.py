"""spark-submit entry point for the image near-dup pipeline.

Cluster usage (north rule: spark-submit --py-files on N and 4N executors):

    cd /root/repo && zip -r /tmp/deduper_spark.zip deduper_spark
    spark-submit --py-files /tmp/deduper_spark.zip \
        tools/submit_dedup.py --input <table-or-parquet> \
        --checkpoint-dir <dir> --run-id r1 [--synth N]

Local sandbox evidence run:

    spark-submit --master 'local[8]' --py-files /tmp/deduper_spark.zip \
        tools/submit_dedup.py --synth 20000

Prints one JSON line with the report + stage metrics.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="input table ident or parquet path")
    ap.add_argument("--synth", type=int, default=0,
                    help="generate a deterministic synthetic corpus of N rows")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--output", default=None,
                    help="write clusters table/path (optional)")
    ap.add_argument("--image-dir", default=None,
                    help="cluster a DIRECTORY of images (any "
                         "JVM-decodable format) instead of a table")
    ap.add_argument("--docs", default=None,
                    help="text-corpus mode: parquet of (doc_id, text) "
                         "-> span-level chunk dedup + MinHash near-dup "
                         "cluster assignment")
    ap.add_argument("--chunk-words", type=int, default=10)
    ap.add_argument("--psnr-mode", default=None,
                    help="override fuzzy psnr_mode (e.g. 'audit')")
    ap.add_argument("--no-json", action="store_true",
                    help="skip the ledger json_row projection")
    ap.add_argument("--warmup", action="store_true",
                    help="run a tiny pipeline first so the timed window "
                         "measures steady state (one-time JVM codegen / "
                         "Arrow init / Python-worker fork are startup "
                         "costs a long-lived cluster pays once, not "
                         "per job)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # spark-submit owns master/conf; only fill app-level defaults here
    spark = (
        SparkSession.builder.appName("deduper_spark_submit")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from deduper_spark.config import DedupConfig
    from deduper_spark.pipeline import DedupPipeline

    if args.image_dir:
        # foreign-corpus mode: directory of images in any
        # JVM-decodable format -> JVM-seam features -> Hamming LSH ->
        # CC keep-first clusters (no captions, no ingestion table)
        from deduper_spark.operators.multimodal import dedup_image_dir

        if args.psnr_mode or args.no_json or args.checkpoint_dir:
            print("note: --psnr-mode/--no-json/--checkpoint-dir apply "
                  "to the table pipeline only, not --image-dir",
                  file=sys.stderr)
        if args.warmup:
            # warm the PATH UNDER TEST: a throwaway dedup_image_dir run
            # over a handful of engine PNGs pays the one-time JVM image
            # source init, javax.imageio decode, and
            # image_features_from_source codegen outside the timed
            # window (ADVICE r4: the table-pipeline warmup left all
            # three cold)
            import os
            import tempfile

            import numpy as np

            from deduper_spark.functions.png import encode_png

            with tempfile.TemporaryDirectory() as wd:
                rng = np.random.default_rng(args.seed + 1)
                for i in range(8):
                    px = rng.integers(0, 255, (24, 24, 3)).astype(np.uint8)
                    with open(os.path.join(wd, f"w{i}.png"), "wb") as f:
                        f.write(encode_png(px))
                dedup_image_dir(spark, wd).where("keep").count()
        t0 = time.time()
        clusters = dedup_image_dir(spark, args.image_dir).persist()
        n_files = clusters.count()
        n_clusters = clusters.where("keep").count()
        if args.output:
            from deduper_spark.sinks.writers import write_table

            write_table(clusters, args.output)
        print(json.dumps({
            "sec": round(time.time() - t0, 3),
            "mode": "image_dir",
            "files_clustered": n_files,
            "clusters": n_clusters,
            "dupes": n_files - n_clusters,
        }))
        spark.stop()
        return

    if args.docs:
        # text-corpus mode: the doc-side pruning family end-to-end —
        # span-level exact dedup (C4-style duplicate-span removal)
        # plus near-dup cluster assignment, same spark-submit
        # deployment contract as the image pipeline
        from pyspark.sql import functions as F

        from deduper_spark.operators.dedup_text import minhash_doc_clusters
        from deduper_spark.operators.prune import chunk_dedup

        if args.psnr_mode or args.no_json or args.checkpoint_dir:
            print("note: --psnr-mode/--no-json/--checkpoint-dir apply "
                  "to the table pipeline only, not --docs",
                  file=sys.stderr)
        if args.warmup:
            # warm the PATH UNDER TEST: a tiny in-memory corpus through
            # both operators pays one-time codegen JIT / Arrow init
            # (minhash UDF) outside the timed window
            w = spark.createDataFrame(
                [(i, f"warm doc {i} " + " ".join(
                    f"tok{(i + j) % 7}" for j in range(30)))
                 for i in range(64)],
                "doc_id long, text string")
            chunk_dedup(w, chunk_words=args.chunk_words).count()
            minhash_doc_clusters(w).count()
        # one scan, reused by every job below (chunk dedup, clustering,
        # and the docs_in counter would otherwise re-read the parquet
        # three times)
        docs = spark.read.parquet(args.docs).select("doc_id",
                                                    "text").persist()
        n_docs = docs.count()  # also materializes the cache
        t0 = time.time()
        spans = chunk_dedup(docs, chunk_words=args.chunk_words).persist()
        n_docs_out = spans.count()
        agg = spans.agg(
            F.sum("n_chunks").alias("chunks_in"),
            F.sum("n_kept").alias("chunks_kept"),
        ).collect()[0]
        clusters = minhash_doc_clusters(docs)
        if args.output:
            clusters = clusters.persist()
        n_clusters = clusters.select("cluster_id").distinct().count()
        if args.output:
            from deduper_spark.sinks.writers import write_table

            write_table(spans, args.output + "_spans")
            write_table(clusters, args.output + "_clusters")
        print(json.dumps({
            "sec": round(time.time() - t0, 3),
            "mode": "docs",
            "docs_in": n_docs,
            "docs_with_novel_spans": n_docs_out,
            "chunks_in_surviving_docs": int(agg["chunks_in"]),
            "chunks_kept": int(agg["chunks_kept"]),
            "near_dup_clusters": n_clusters,
            "near_dup_members": n_docs - n_clusters,
        }))
        spark.stop()
        return

    if args.synth:
        from deduper_spark.synth import make_df

        df = make_df(spark, args.seed, args.synth).persist()
        df.count()
    elif args.input:
        from deduper_spark.sources.readers import read_table

        df = read_table(spark, args.input)
    else:
        print("need --input or --synth", file=sys.stderr)
        sys.exit(2)

    kw = {}
    if args.psnr_mode or args.no_json:
        from deduper_spark.config import FuzzyConfig

        if args.psnr_mode:
            kw["fuzzy"] = FuzzyConfig(psnr_mode=args.psnr_mode)
        if args.no_json:
            kw["include_json"] = False
    cfg = DedupConfig(checkpoint_dir=args.checkpoint_dir,
                      run_id=args.run_id, **kw)
    if args.warmup:
        from deduper_spark.synth import make_df as _mk

        _w = _mk(spark, args.seed + 1, 1000).persist()
        _w.count()
        # fresh config WITHOUT checkpoint_dir: the warmup must never
        # write (or resume from) the real run's checkpoint lineage
        DedupPipeline(DedupConfig(**kw)).run(spark, _w)
        _w.unpersist()
    t0 = time.time()
    res = DedupPipeline(cfg).run(spark, df)
    if args.output:
        from deduper_spark.sinks.writers import write_table

        write_table(res.clusters, args.output)
    dt = time.time() - t0
    out = {
        "sec": round(dt, 3),
        "report": json.loads(res.report.to_json()),
        "stages": res.metrics,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
