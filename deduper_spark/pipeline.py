"""DedupPipeline — the end-to-end near-duplicate detection & clustering DAG.

Lifecycle (Spark-first equivalent of Deduper.dedupe, Deduper.kt:429-549):
    features → signatures → LSH candidates → verification → edges →
    connected components → clusters / survivors / ledger / report →
    sinks

In psnr_mode="audit" every family plans as ONE edges query (AQE runs
its independent branches concurrently); the PSNR audit then samples
the phash pairs of the edges checkpoint in its own driver thread,
alongside CC and the report, and is joined before any sink is
written. The sinks are written concurrently and counted back in one
query, the hashes ledger last, once the others reconcile
(sinks/writers.py).

Every stage is optionally checkpointed to parquet under
``checkpoint_dir/run_id/<stage>`` (Iceberg tables on a real cluster)
with per-stage + per-partition metrics, so a rerun resumes after the
last completed stage — the distributed generalization of the
reference's cross-run hash ledger (Deduper.kt:135-158).

Shuffle inventory at scale (the plan you'd want on 1000 executors):
  * features: narrow (projection + Arrow UDFs) — zero shuffle;
  * each LSH family: one groupBy(bucket) sizing pass + one grouping
    shuffle on (band, bucket, salt) that enumerates the pairs;
  * verification: joins pair-side (small) to features hash-partitioned
    on id; the binary `bytes` column is projected ONLY into the PSNR
    pair join (full mode: the phash-only pairs; audit mode: a bounded
    sample of the edges checkpoint's phash pairs);
  * CC: each partition contracts its edges locally (NumPy union-find),
    then one task finishes the contracted forest — no shuffle rounds
    unless the forest outgrows one task;
  * report: one groupBy(cluster_id) feeds the counters, the group
    detail and the dupes sink; the distinct-hash count rides the same
    collect;
  * outputs: hash-partitioned writes, no global sort anywhere; one
    union read-back reconciles every sink but the ledger, which is
    written and counted after them.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException
from pyspark.util import inheritable_thread_target

from deduper_spark.config import DedupConfig
from deduper_spark.errors import MISSING_PATH, absent_state
from deduper_spark.functions.keys import md5_key_expr
from deduper_spark.functions.minhash import minhash_buckets_expr
from deduper_spark.functions.simhash import simhash_expr
from deduper_spark.functions.text import (
    normalize_expr,
    shingle_hashes_expr,
    shingles_expr,
    token_hashes_expr,
    tokens_expr,
)
from deduper_spark.operators.cc import connected_components
from deduper_spark.operators.exact import MAX_COLLECTED_GROUPS
from deduper_spark.operators.lsh import (
    array_band_buckets,
    candidate_pairs,
    hamming_candidate_pairs,
    int64_band_buckets,
    union_pairs,
)
from deduper_spark.operators.suffix import containment_pairs
from deduper_spark.operators.verify import verify_jaccard, verify_psnr
from deduper_spark.report import DedupeReport
from deduper_spark.session import codegen_compiles

ALL_FAMILIES = ("exact", "minhash", "simhash", "phash", "substring")


@dataclass
class PipelineResult:
    clusters: DataFrame    # (image_id, cluster_id)
    survivors: DataFrame   # input rows where image_id == cluster_id
    dupe_groups: DataFrame # (cluster_id, member_ids, survivor_id, n_members)
    edges: DataFrame       # verified dup pairs (id_l, id_r, families)
    hash_ledger: DataFrame # exact-key ledger (hash, json_row?)
    report: DedupeReport = field(default_factory=DedupeReport)
    metrics: list[dict] = field(default_factory=list)


class DedupPipeline:
    def __init__(self, config: DedupConfig | None = None,
                 families: tuple[str, ...] = ALL_FAMILIES,
                 collect_metrics: bool = True):
        """collect_metrics=False drops the per-partition lineage jobs
        and hot-bucket accounting collects — for benchmark runs where
        every extra action is measured overhead."""
        self.config = config or DedupConfig()
        self.families = families
        self.collect_metrics = collect_metrics
        self.metrics: list[dict] = []

    # ------------------------------------------------------------ stages

    def _ckpt_path(self, stage: str) -> str | None:
        cd = self.config.checkpoint_dir
        if not cd:
            return None
        return os.path.join(cd, self.config.run_id, stage)

    def _materialize(self, spark: SparkSession, stage: str, df: DataFrame,
                     lazy: bool = False) -> DataFrame:
        """Checkpoint a stage (resume if already written) + record metrics,
        including per-partition row counts (lineage requirement).

        ``lazy=True`` (r6) defers materialization to the stage's first
        consuming action — safe ONLY when that first action references
        the stage exactly once (a multi-reference consumer would race
        duplicate computation into the cache), and only when that action
        completes before two driver threads read the stage (run()'s
        concurrent sinks and PSNR audit would race the same way).
        Ignored when a checkpoint_dir requires a durable parquet write."""
        path = self._ckpt_path(stage)
        t0 = time.time()
        if path:
            done_marker = os.path.join(path, "_SUCCESS")
            if os.path.exists(done_marker):
                out = spark.read.parquet(path)
                self.metrics.append(
                    {"stage": stage, "resumed": True, "rows": out.count(),
                     "sec": round(time.time() - t0, 3)}
                )
                return out
            df.write.mode("overwrite").parquet(path)
            out = spark.read.parquet(path)
        else:
            # localCheckpoint over persist(): the row cache is written
            # once but READ by many consumers (the edges stage reads
            # features ~8 times) — columnar persist pays decompression
            # per read, measured slower end-to-end
            out = df.localCheckpoint(eager=not (lazy and not self.collect_metrics))
        entry: dict = {"stage": stage, "resumed": False,
                       "sec": round(time.time() - t0, 3)}
        if self.collect_metrics:
            part_counts = [
                (r["pid"], r["n"])
                for r in out.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.count("*").alias("n")).collect()
            ]
            entry.update(
                rows=sum(n for _, n in part_counts),
                partitions=len(part_counts),
                max_partition_rows=max((n for _, n in part_counts), default=0),
            )
        self.metrics.append(entry)
        return out

    def hash_keys(self, df: DataFrame) -> list[str]:
        """The exact-key column list the pipeline actually hashes:
        ``config.hash_keys`` in user order (reference hashKeys contract,
        Config.kt:19-24), validated against the input columns; empty ⇒
        the pipeline default ("caption", "phash") — NOT "all columns"
        as in the reference's tabular mode (Deduper.kt:181-186), because
        the image table's `bytes` column in an MD5 key would force the
        full payload through the features stage."""
        keys = list(self.config.hash_keys) or ["caption", "phash"]
        missing = [c for c in keys if c not in df.columns]
        if missing:
            raise ValueError(
                f"hash_keys {missing} not found in source columns "
                f"{df.columns}"
            )
        return keys

    def features(self, df: DataFrame) -> DataFrame:
        """Narrow stage: all signatures in one projection (no shuffle).
        `bytes` is intentionally NOT carried — it re-enters only in the
        PSNR pair join. The raw `caption` is carried ONLY when the JSON
        ledger needs it (include_json): this stage is memory-bandwidth-
        bound at high thread counts, so the checkpointed row holds the
        minimum — hashes, buckets, fingerprints, and norm_caption (for
        the substring family)."""
        cfg = self.config.fuzzy
        keys = self.hash_keys(df)
        # exact_hash is computed over the SOURCE columns (so any user
        # key column works), except caption contributes its coalesced
        # form — null and '' captions share one key, matching the
        # stringified-row parity the oracle queries pin
        keyed = df.withColumn(
            "caption", F.coalesce(F.col("caption"), F.lit(""))
        )
        out = keyed.select(
            F.col(self.config.order_col).alias("id"),
            # null captions tolerated (reference null test,
            # DeduperTest.kt:353-392): normalize over '' not null
            "caption",
            "phash",
            normalize_expr(F.col("caption")).alias("norm_caption"),
            md5_key_expr(keys).alias("exact_hash"),
        )
        out = out.withColumn("tokens", tokens_expr("norm_caption"))
        out = out.withColumn(
            "shingle_hashes",
            shingle_hashes_expr(shingles_expr("tokens", cfg.shingle_k)),
        )
        if "minhash" in self.families:
            # signature + banding FUSED inside the UDF: the Arrow
            # return payload is bands longs (128 B), not the full
            # num_perm signature (1 KB) — verification uses the exact
            # shingle sets, never the signature (lsh.py rationale)
            out = out.withColumn(
                "minhash_buckets",
                minhash_buckets_expr("shingle_hashes", cfg.num_perm,
                                     cfg.bands, cfg.minhash_seed),
            )
        if "simhash" in self.families:
            out = out.withColumn(
                "simhash", simhash_expr(token_hashes_expr("tokens"))
            )
        out = out.drop("tokens")
        if not self.config.include_json:
            out = out.drop("caption")
        return out

    def candidate_edges(self, spark: SparkSession, feats: DataFrame,
                        images: DataFrame) -> DataFrame:
        """Per-family LSH candidate generation, each banding verified by
        its OWN exact predicate (minhash → shingle-set Jaccard;
        simhash/phash → Hamming), pairs kept if any family confirms.

        Shuffle economics at 10^12 rows:
          * Hamming families: the 8-byte fingerprint RIDES the bucket
            row, so `bit_count(xor) <= t` evaluates inside the pair
            enumeration's codegen stage — false candidates (the 16-bit
            band flood: measured 33M candidates at n=400k) die before
            any downstream shuffle (lsh.hamming_candidate_pairs).
          * minhash: banding is selective (128-perm buckets), so its
            ~1e-3x candidate set is the only thing that joins the
            shingle arrays for exact Jaccard.
          * family results merge in union_pairs (one groupBy over
            confirmed pairs only).

        Pixel fidelity: psnr_mode="full" pins the fuzzy pairs and keeps a
        pair only phash confirmed iff its decoded PSNR passes. In
        psnr_mode="audit" nothing here runs an action: the exact, fuzzy
        and substring branches form one edges query, and run() audits a
        sample of its phash pairs after checkpointing it
        (``_psnr_audit``)."""
        cfg = self.config.fuzzy
        verified: list[DataFrame] = []

        if "exact" in self.families:
            # star edges to the group min — connectivity-equivalent to
            # all O(g^2) intra-group pairs at linear cost. Group min as
            # a window aggregate over the hash (r6, guide §2.4): one
            # Exchange instead of the former groupBy + join pair.
            from pyspark.sql import Window

            gmin = F.min("id").over(Window.partitionBy("exact_hash"))
            exact_edges = (
                feats.select("exact_hash", "id")
                .withColumn("gmin", gmin)
                .where(F.col("id") != F.col("gmin"))
                .select(
                    F.col("gmin").alias("id_l"),
                    F.col("id").alias("id_r"),
                    F.array(F.lit("exact")).alias("families"),
                )
            )
            verified.append(exact_edges)

        fuzzy_parts: list[DataFrame] = []
        if "minhash" in self.families:
            bb = array_band_buckets(feats, "id", "minhash_buckets", "minhash")
            mh_pairs, mh_dropped = candidate_pairs(bb, cfg.max_bucket_size)
            self._record_dropped(spark, "minhash", mh_dropped)
            fuzzy_parts.append(
                verify_jaccard(mh_pairs, feats, "shingle_hashes",
                               cfg.jaccard_threshold).drop("jaccard")
            )

        ham_tables = []
        if "simhash" in self.families:
            ham_tables.append(
                int64_band_buckets(feats, "id", "simhash",
                                   cfg.phash_band_bits, "simhash",
                                   cfg.simhash_hamming_threshold)
            )
        if "phash" in self.families:
            ham_tables.append(
                int64_band_buckets(feats, "id", "phash",
                                   cfg.phash_band_bits, "phash",
                                   cfg.phash_hamming_threshold)
            )
        if ham_tables:
            hb = ham_tables[0]
            for t in ham_tables[1:]:
                hb = hb.unionByName(t)
            ham_pairs, ham_dropped = hamming_candidate_pairs(
                hb, cfg.max_bucket_size
            )
            self._record_dropped(spark, "hamming", ham_dropped)
            fuzzy_parts.append(ham_pairs)

        if fuzzy_parts:
            fuzzy_ok = union_pairs(*fuzzy_parts)
            if self._pixel_check() != "full":
                # no pixel check here (audit mode: run() samples the
                # phash pairs off the edges checkpoint), so fuzzy_ok has
                # this one consumer
                verified.append(fuzzy_ok)
            else:
                # full mode: pairs confirmed ONLY by phash need the
                # pixel check; pairs any other family confirmed stand.
                # fuzzy_ok feeds both branches of that split — pin it
                # once or the candidate pairing (the single most
                # expensive shuffle in the pipeline) runs twice
                t_cand = time.time()
                fuzzy_ok = fuzzy_ok.localCheckpoint()
                self.metrics.append(
                    {"stage": "candidates",
                     "sec": round(time.time() - t_cand, 3)}
                )
                img = images.select(
                    F.col(self.config.order_col).alias("id"), "bytes"
                )
                phash_only = fuzzy_ok.where(
                    F.array_contains("families", "phash")
                    & (F.size("families") == 1)
                )
                others = fuzzy_ok.where(
                    ~(F.array_contains("families", "phash")
                      & (F.size("families") == 1))
                )
                confirmed = verify_psnr(
                    phash_only, img, cfg.psnr_threshold_db
                ).drop("psnr")
                verified.append(others.unionByName(confirmed))

        if "substring" in self.families:
            verified.append(
                containment_pairs(
                    feats.select("id", "norm_caption", "shingle_hashes")
                )
            )

        if not verified:
            raise ValueError("no dedup families enabled")
        return union_pairs(*verified)

    def _pixel_check(self) -> str | None:
        """How phash pairs are pixel-verified: "full" (candidate_edges
        decodes every pair only phash confirmed), "audit" (run() decodes
        a sample of the edges checkpoint's phash pairs) or None (no
        phash family)."""
        if "phash" not in self.families:
            return None
        return "audit" if self.config.fuzzy.psnr_mode == "audit" else "full"

    def _psnr_audit(self, edges: DataFrame, images: DataFrame) -> dict:
        """psnr_mode="audit": decode a deterministic sample of the phash
        pairs in the edges checkpoint — exactly the pair set the phash
        family confirmed — and return the audit's metrics entry.

        The sample cap keeps the decode cost and the bytes-pair shuffle
        bounded at any corpus size. The sample is a PURE predicate —
        pmod(xxhash64(pair)) below a cutoff sized from the phash pair
        count — so two runs at different partitionings audit the
        IDENTICAL pair set (a .limit(n) cut would take whichever rows
        arrive first). Both actions scan the pinned edges."""
        cfg = self.config.fuzzy
        ham_ok = edges.where(F.array_contains("families", "phash"))
        n_ham = ham_ok.count()
        cut = min(
            1_000_000,
            (1_000_000 * cfg.psnr_audit_pairs) // max(n_ham, 1) + 1,
        )
        sampled = ham_ok.where(
            F.pmod(F.xxhash64("id_l", "id_r"), F.lit(1_000_000)) < F.lit(cut)
        )
        img = images.select(F.col(self.config.order_col).alias("id"), "bytes")
        t_aud = time.time()
        row = verify_psnr(sampled, img, float("-inf")).agg(
            F.count("*").alias("sampled"),
            F.sum((F.col("psnr") >= cfg.psnr_threshold_db)
                  .cast("long")).alias("passed"),
        ).collect()[0]
        return {"stage": "psnr_audit", "sampled": row["sampled"],
                "passed": row["passed"] or 0,
                "sec": round(time.time() - t_aud, 3)}

    def _record_dropped(self, spark: SparkSession, family: str,
                        dropped: DataFrame) -> None:
        if not self.collect_metrics:
            return
        row = dropped.agg(
            F.count("*").alias("buckets"),
            F.coalesce(F.sum("bucket_size"), F.lit(0)).alias("rows"),
        ).collect()[0]
        if row["buckets"]:
            self.metrics.append(
                {"stage": f"lsh_{family}", "dropped_hot_buckets": row["buckets"],
                 "dropped_rows": int(row["rows"])}
            )

    # --------------------------------------------------------------- run

    def explain_key(self, df: DataFrame) -> tuple[str, str]:
        """Sample-hash debug probe (reference getSampleHash,
        Deduper.kt:407-421; golden DeduperTest.kt:427-428): the first
        row's stringified exact key and its MD5 — config sanity check."""
        from deduper_spark.functions.keys import stringify_expr

        keys = self.hash_keys(df)
        row = (
            df.withColumn("caption",
                          F.coalesce(F.col("caption"), F.lit("")))
            .orderBy(self.config.order_col)
            .select(
                stringify_expr(keys).alias("s"),
                md5_key_expr(keys).alias("h"),
            )
            .limit(1)
            .collect()[0]
        )
        return row["s"], row["h"]

    def run_safe(self, spark: SparkSession, df: DataFrame) -> PipelineResult:
        """Error-path contract (reference O28, Deduper.kt:280-309 and
        DeduperTest.kt:466-481): failures yield a report with
        success=False instead of raising."""
        try:
            return self.run(spark, df)
        except Exception as exc:  # noqa: BLE001
            report = DedupeReport(success=False)
            self.metrics.append({"stage": "error", "error": f"{type(exc).__name__}: {exc}"})
            # each empty output keeps its REAL schema so downstream
            # consumers of a failed run don't hit missing columns
            clusters = spark.createDataFrame(
                [], "image_id string, cluster_id string")
            dupe_groups = spark.createDataFrame(
                [], "cluster_id string, member_ids array<string>, "
                    "n_members long, survivor_id string")
            edges = spark.createDataFrame(
                [], "id_l string, id_r string, families array<string>")
            ledger = spark.createDataFrame(
                [], "hash string, json_row string" if self.config.include_json
                else "hash string")
            return PipelineResult(
                clusters=clusters, survivors=df.limit(0),
                dupe_groups=dupe_groups, edges=edges, hash_ledger=ledger,
                report=report, metrics=self.metrics,
            )

    def _preload_seen(self, spark: SparkSession) -> DataFrame | None:
        """Seen-hash ledger preload (reference Deduper.kt:135-158): a
        persisted ledger whose hashes mark rows as already-processed.
        A missing path is an empty preload (first run of an
        incremental series configured once)."""
        path = self.config.seen_hashes_path
        if not path:
            return None
        try:
            seen = (spark.read.parquet(path) if "/" in path
                    else spark.read.table(path))
        except AnalysisException as exc:
            # ONLY a genuinely absent ledger is a first run; anything
            # else (schema trouble, permissions) must raise
            if not absent_state(exc, MISSING_PATH):
                raise
            self.metrics.append({"stage": "seen_preload", "hashes": 0,
                                 "note": "no ledger at path (first run)"})
            return None
        # any OTHER read failure (corrupt parquet, permissions) raises:
        # treating it as "first run" would silently disable incremental
        # dedup and re-emit previously-seen rows as survivors
        return seen.select(F.col("hash").alias("exact_hash")).distinct()

    def run(self, spark: SparkSession, df: DataFrame) -> PipelineResult:
        t0 = time.time()
        compiles0 = codegen_compiles(spark)
        self.metrics = []

        feats = self._materialize(spark, "features", self.features(df))

        # ---- incremental mode: drop rows whose exact hash was seen in a
        # prior run; they count as dupes (reference semantics pinned by
        # DeduperTest.kt:393-413: preloaded hashes make rows dupes and
        # still count in hash_count)
        pre_rows = 0
        pre_groups = 0
        pre_hashes = 0
        pre_group_detail: DataFrame | None = None
        seen = self._preload_seen(spark)
        if seen is not None:
            seen = seen.localCheckpoint()
            pre_hashes = seen.count()
            hit = feats.join(seen, "exact_hash", "left_semi").agg(
                F.count("*").alias("rows"),
                F.count_distinct("exact_hash").alias("groups"),
            ).collect()[0]
            pre_rows, pre_groups = hit["rows"], hit["groups"]
            self.metrics.append({"stage": "seen_preload",
                                 "hashes": pre_hashes,
                                 "seen_rows": pre_rows})
            if pre_rows:
                # group detail for preloaded hits (reference golden:
                # DeduperTest.kt sourceHashTable expects report.dupes to
                # hold EVERY preloaded-hit group). The survivor lives in
                # a PRIOR run, so survivor_id is null and the group is
                # keyed by its exact hash (no fresh cluster id exists);
                # size-1 groups stay — one seen row IS a dupe of the
                # ledger.
                pre_group_detail = (
                    feats.join(seen, "exact_hash", "left_semi")
                    .groupBy("exact_hash")
                    .agg(
                        F.sort_array(F.collect_list("id")).alias("member_ids"),
                        F.count("*").alias("n_members"),
                    )
                    .select(
                        F.col("exact_hash").alias("cluster_id"),
                        "member_ids", "n_members",
                        F.lit(None).cast("string").alias("survivor_id"),
                    )
                )
                feats = self._materialize(
                    spark, "features_fresh",
                    feats.join(seen, "exact_hash", "left_anti"),
                )
                df = df.join(
                    feats.select(F.col("id").alias(self.config.order_col)),
                    self.config.order_col, "left_semi",
                )

        edges = self._materialize(
            spark, "edges", self.candidate_edges(spark, feats, df)
        )
        # the PSNR audit reads only the edges checkpoint and the images:
        # one driver thread runs it alongside CC and the report, and it
        # is joined before any sink is written
        audit = None
        if self._pixel_check() == "audit":
            pool = ThreadPoolExecutor(max_workers=1)
            audit = pool.submit(
                inheritable_thread_target(spark)(self._psnr_audit), edges, df
            )
            pool.shutdown(wait=False)  # the worker exits once the audit ends

        t_cc = time.time()
        # union_pairs ends in a groupBy(id_l, id_r): edges are distinct
        labeled = connected_components(edges, nodes=feats.select("id"),
                                       edges_distinct=True)
        self.metrics.append(
            {"stage": "cc_rounds", "sec": round(time.time() - t_cc, 3)}
        )
        clusters = self._materialize(
            spark,
            "clusters",
            labeled.select(F.col("id").alias("image_id"), "cluster_id"),
            # the report's collect below is the first action and reads
            # clusters exactly once (through the per-cluster aggregate)
            # — it materializes the checkpoint, saving a dedicated job
            lazy=True,
        )

        survivor_ids = clusters.where(
            F.col("image_id") == F.col("cluster_id")
        ).select(F.col("image_id").alias(self.config.order_col))
        survivors = df.join(survivor_ids, self.config.order_col, "left_semi")

        ledger = feats.groupBy(F.col("exact_hash").alias("hash")).agg(
            F.min("id").alias("first_id")
        ).drop("first_id") if not self.config.include_json else (
            feats.groupBy(F.col("exact_hash").alias("hash")).agg(
                F.to_json(
                    F.min_by(F.struct("id", "caption", "phash"), F.col("id"))
                ).alias("json_row")
            )
        )

        # ---- report: ONE per-cluster aggregate feeds every counter, the
        # group detail and the dupes sink; one collect() computes the
        # counters and the distinct-hash count together, and so
        # materializes both lazy checkpoints (clusters and the
        # aggregate) before the concurrent sinks read them
        t_rep = time.time()
        groups = clusters.groupBy("cluster_id").agg(
            F.sort_array(F.collect_list("image_id")).alias("member_ids"),
            F.count("*").alias("n_members"),
            F.sum((F.col("image_id") == F.col("cluster_id")).cast("long"))
            .alias("n_survivors"),
        ).localCheckpoint(eager=False)
        stats = groups.agg(
            # coalesce: an all-seen incremental run clusters ZERO rows
            F.coalesce(F.sum("n_members"), F.lit(0)).alias("n_records"),
            F.coalesce(F.sum("n_survivors"), F.lit(0)).alias("n_survivors"),
            # clusters that own at least one non-survivor row == number
            # of dupe groups (reference distinctDupeCount)
            F.count_if(F.col("n_members") > F.col("n_survivors"))
            .alias("n_dupe_groups"),
        ).crossJoin(
            feats.agg(F.count_distinct("exact_hash").alias("hash_count"))
        ).collect()[0]
        n_records = stats["n_records"]          # fresh rows (clustered)
        n_groups = stats["n_dupe_groups"]
        # preloaded-seen rows are dupes and their hashes count
        # (reference: DeduperTest.kt:408-412)
        report = DedupeReport(
            record_count=n_records + pre_rows,
            hash_columns=self.hash_keys(df),
            columns_found=df.columns,
            dupe_count=(n_records - stats["n_survivors"]) + pre_rows,
            distinct_dupe_count=n_groups + pre_groups,
            hash_count=stats["hash_count"] + pre_hashes,
            success=True,
        )

        dupe_groups = groups.where(F.col("n_members") > 1).select(
            "cluster_id", "member_ids", "n_members",
            F.col("cluster_id").alias("survivor_id"),
        )
        if pre_group_detail is not None:
            dupe_groups = dupe_groups.unionByName(pre_group_detail)
        # group detail (reference report.dupes, Deduper.kt:42-60) —
        # cap-limited exactly like the exact path's build_report;
        # dupe_groups now includes preloaded-hit groups, so the cap
        # gates on the TOTAL group count
        if 0 < (n_groups + pre_groups) <= MAX_COLLECTED_GROUPS:
            for r in dupe_groups.collect():
                report.dupes[r["cluster_id"]] = {
                    "member_ids": list(r["member_ids"]),
                    "survivor_id": r["survivor_id"],
                    "n_members": r["n_members"],
                }
        self.metrics.append(
            {"stage": "report", "sec": round(time.time() - t_rep, 3)}
        )
        if audit is not None:
            entry = audit.result()
            self.metrics.append(entry)
            if entry["passed"] < entry["sampled"]:
                raise RuntimeError(
                    f"PSNR fidelity audit failed: "
                    f"{entry['sampled'] - entry['passed']} of "
                    f"{entry['sampled']} sampled pairs below "
                    f"{self.config.fuzzy.psnr_threshold_db} dB"
                )

        result = PipelineResult(
            clusters=clusters,
            survivors=survivors,
            dupe_groups=dupe_groups,
            edges=edges,
            hash_ledger=ledger,
            report=report,
            metrics=self.metrics,
        )

        # ---- configured sinks (reference Deduper.kt:431-497) ---------
        cfg = self.config
        if any([cfg.target_path, cfg.dupes_path, cfg.hashes_path,
                cfg.clusters_path]):
            from deduper_spark.sinks.writers import write_pipeline_outputs

            written = write_pipeline_outputs(
                spark, result, report, cfg, n_fresh=n_records,
                preloaded_hashes=pre_hashes,
            )
            self.metrics.append({"stage": "sinks", **written})

        self.metrics.append({
            "stage": "total", "sec": round(time.time() - t0, 3),
            "codegen_compiles": codegen_compiles(spark) - compiles0})
        self._write_metrics(report)
        return result

    def _write_metrics(self, report: DedupeReport) -> None:
        cd = self.config.checkpoint_dir
        if not cd:
            return
        path = os.path.join(cd, self.config.run_id, "metrics.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"report": json.loads(report.to_json()),
                       "stages": self.metrics}, f, indent=2)
