"""The three benchmark workloads.

Each workload generates its inputs once from the seed (``prepare``),
then runs one dedup iteration per call: ``run`` through the engine's
public entry point with tracing off, ``traced`` by calling each layer's
public function in the order the entry point uses, forcing each output
inside a ``Tracer`` span. ``check`` compares an iteration's outputs with
the truth the generator planted and returns (pair_recall,
pair_precision); a mismatch raises ``CheckFailed``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from deduper_spark import synth
from deduper_spark.config import DedupConfig, FuzzyConfig
from deduper_spark.operators import cc
from deduper_spark.operators.dedup_text import minhash_doc_clusters
from deduper_spark.operators.exact import build_report, exact_dedup
from deduper_spark.operators.incremental import incremental_dedup
from deduper_spark.operators.lsh import (
    array_band_buckets,
    candidate_pairs,
    hamming_candidate_pairs,
    int64_band_buckets,
    union_pairs,
)
from deduper_spark.operators.suffix import containment_pairs
from deduper_spark.operators.verify import verify_jaccard, verify_psnr
from deduper_spark.functions.minhash import minhash_buckets_expr
from deduper_spark.functions.text import (
    shingle_hashes_expr,
    shingles_expr,
    tokens_expr,
)
from deduper_spark.pipeline import DedupPipeline, PipelineResult
from deduper_spark.report import DedupeReport
from deduper_spark.sinks.writers import (
    write_dedup_outputs,
    write_pipeline_outputs,
)

from perfbench import gen

# Pinned so a change of the engine's defaults cannot silently change
# the work a workload measures.
TEXT_CFG = FuzzyConfig(shingle_k=5, num_perm=128, bands=16,
                       rows_per_band=8, minhash_seed=42,
                       jaccard_threshold=0.7, max_bucket_size=200)
IMAGE_CFG = FuzzyConfig(psnr_mode="audit")


class CheckFailed(RuntimeError):
    pass


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, planted {want!r}")


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files) / 2**20


class _CountCalls:
    """Counts calls of a module function while installed (``cc.rounds``:
    connected_components runs one small-star phase per round)."""

    def __init__(self, module, name: str):
        self.module, self.name = module, name
        self.calls = 0

    def __enter__(self) -> "_CountCalls":
        self.orig = getattr(self.module, self.name)

        def wrapped(*a, **kw):
            self.calls += 1
            return self.orig(*a, **kw)

        setattr(self.module, self.name, wrapped)
        return self

    def __exit__(self, *exc) -> None:
        setattr(self.module, self.name, self.orig)


class Workload:
    name = ""
    rows = 0        # input rows one iteration dedups

    def __init__(self, spark, seed: int, work: str, scale: float = 1.0):
        self.spark, self.seed, self.work, self.scale = spark, seed, work, scale

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


# ------------------------------------------------------------------ image

class ImagePipeline(Workload):
    """DedupPipeline over the synthetic image+caption corpus: all five
    families, PSNR audit, four sinks written and reconciled."""

    name = "image_pipeline"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rows = max(20, int(1_000 * self.scale))
        ids = synth.expected_clusters(self.seed, self.rows)
        self.planted = dict(zip(ids["image_id"], ids["cluster_id"]))

    def prepare(self) -> None:
        synth.make_df(self.spark, self.seed, self.rows).write.mode(
            "overwrite").parquet(self.path("images"))

    def config(self) -> DedupConfig:
        return DedupConfig(
            fuzzy=IMAGE_CFG, include_json=False,
            target_path=self.path("target"), dupes_path=self.path("dupes"),
            hashes_path=self.path("hashes"),
            clusters_path=self.path("clusters"))

    def run(self):
        df = self.spark.read.parquet(self.path("images"))
        pipe = DedupPipeline(self.config(), collect_metrics=False)
        return pipe.run(self.spark, df).report

    def check(self, report: DedupeReport):
        rows = self.spark.read.parquet(self.path("clusters")).collect()
        found = {r["image_id"]: r["cluster_id"] for r in rows}
        _expect("clustered ids", set(found), set(self.planted))
        planted_dupes = sum(1 for k, v in self.planted.items() if k != v)
        _expect("dupe_count", report.dupe_count, planted_dupes)
        self.labels = found
        return gen.pair_scores(self.planted, found)

    def traced(self, tr):
        """DedupPipeline.run (psnr_mode="audit", no seen-hash preload),
        one layer at a time."""
        spark, cfg = self.spark, self.config()
        fz = cfg.fuzzy
        df = spark.read.parquet(self.path("images"))
        pipe = DedupPipeline(cfg, collect_metrics=False)
        with tr.span("features"):
            feats = pipe.features(df).localCheckpoint()
        with tr.span("exact"):
            gmin = F.min("id").over(Window.partitionBy("exact_hash"))
            exact_edges = (
                feats.select("exact_hash", "id").withColumn("gmin", gmin)
                .where(F.col("id") != F.col("gmin"))
                .select(F.col("gmin").alias("id_l"), F.col("id").alias("id_r"),
                        F.array(F.lit("exact")).alias("families"))
                .localCheckpoint())
        with tr.span("lsh"):
            bb = array_band_buckets(feats, "id", "minhash_buckets", "minhash")
            mh_pairs, mh_drop = candidate_pairs(bb, fz.max_bucket_size)
            mh_pairs = mh_pairs.localCheckpoint()
            hb = int64_band_buckets(
                feats, "id", "simhash", fz.phash_band_bits, "simhash",
                fz.simhash_hamming_threshold).unionByName(int64_band_buckets(
                    feats, "id", "phash", fz.phash_band_bits, "phash",
                    fz.phash_hamming_threshold))
            ham_pairs, ham_drop = hamming_candidate_pairs(
                hb, fz.max_bucket_size)
            ham_pairs = ham_pairs.localCheckpoint()
            n_mh = mh_pairs.count()
            tr.add("lsh", candidate_pairs=n_mh + ham_pairs.count(),
                   dropped_buckets=mh_drop.count() + ham_drop.count())
        with tr.span("verify"):
            mh_ok = verify_jaccard(mh_pairs, feats, "shingle_hashes",
                                   fz.jaccard_threshold) \
                .drop("jaccard").localCheckpoint()
            fuzzy_ok = union_pairs(mh_ok, ham_pairs).localCheckpoint()
            ham_ok = fuzzy_ok.where(F.array_contains("families", "phash"))
            n_ham = ham_ok.count()
            cut = min(1_000_000,
                      1_000_000 * fz.psnr_audit_pairs // max(n_ham, 1) + 1)
            sampled = ham_ok.where(
                F.pmod(F.xxhash64("id_l", "id_r"), F.lit(1_000_000)) < cut)
            img = df.select(F.col(cfg.order_col).alias("id"), "bytes")
            audit = verify_psnr(sampled, img, float("-inf")).agg(
                F.count("*").alias("sampled"),
                F.sum((F.col("psnr") >= fz.psnr_threshold_db).cast("long"))
                .alias("passed")).collect()[0]
            if (audit["passed"] or 0) < audit["sampled"]:
                raise CheckFailed("PSNR audit failed")
            tr.add("verify", pairs_in=n_mh + audit["sampled"],
                   passed=mh_ok.count() + audit["passed"],
                   psnr_pairs=audit["sampled"])
        with tr.span("suffix"):
            sub = containment_pairs(
                feats.select("id", "norm_caption", "shingle_hashes")
            ).localCheckpoint()
            tr.add("suffix", pairs_out=sub.count())
        with tr.span("lsh"):
            edges = union_pairs(exact_edges, fuzzy_ok, sub).localCheckpoint()
        with tr.span("cc"), _CountCalls(cc, "_small_star") as rounds:
            labeled = cc.connected_components(
                edges, nodes=feats.select("id"), edges_distinct=True)
            clusters = labeled.select(F.col("id").alias("image_id"),
                                      "cluster_id").localCheckpoint()
        tr.add("cc", rounds=rounds.calls, edges_in=edges.count())
        with tr.span("report"):
            result, report, n_fresh = self._report(
                df, feats, clusters, edges, pipe.hash_keys(df))
        with tr.span("sinks"):
            written = write_pipeline_outputs(spark, result, report, cfg,
                                             n_fresh=n_fresh)
        tr.add("sinks", rows_written=sum(written.values()),
               bytes_written_mb=sum(_dir_mb(self.path(p)) for p in
                                    ("target", "dupes", "hashes", "clusters")))
        return report

    def _report(self, df, feats, clusters, edges, hash_keys):
        """The survivor, group, ledger and report aggregations of
        DedupPipeline.run."""
        order = self.config().order_col
        survivors = df.join(
            clusters.where(F.col("image_id") == F.col("cluster_id"))
            .select(F.col("image_id").alias(order)), order, "left_semi")
        dupe_groups = (
            clusters.groupBy("cluster_id")
            .agg(F.sort_array(F.collect_list("image_id")).alias("member_ids"),
                 F.count("*").alias("n_members"))
            .withColumn("survivor_id", F.col("cluster_id"))
            .where(F.col("n_members") > 1))
        ledger = feats.groupBy(F.col("exact_hash").alias("hash")).agg(
            F.min("id").alias("first_id")).drop("first_id")
        cs = clusters.agg(
            F.count("*").alias("n"),
            F.sum((F.col("image_id") == F.col("cluster_id")).cast("long"))
            .alias("surv"),
            F.count_distinct(F.when(F.col("image_id") != F.col("cluster_id"),
                                    F.col("cluster_id"))).alias("groups"),
        ).collect()[0]
        hs = feats.agg(F.count_distinct("exact_hash").alias("h")).collect()[0]
        report = DedupeReport(
            record_count=cs["n"], hash_columns=hash_keys,
            columns_found=df.columns, dupe_count=cs["n"] - cs["surv"],
            distinct_dupe_count=cs["groups"], hash_count=hs["h"],
            success=True)
        if 0 < cs["groups"] <= 1000:
            for r in dupe_groups.collect():
                report.dupes[r["cluster_id"]] = {
                    "member_ids": list(r["member_ids"]),
                    "survivor_id": r["survivor_id"],
                    "n_members": r["n_members"]}
        result = PipelineResult(clusters=clusters, survivors=survivors,
                                dupe_groups=dupe_groups, edges=edges,
                                hash_ledger=ledger, report=report)
        return result, report, cs["n"]


# ------------------------------------------------------------------- text

class TextChains(Workload):
    """minhash_doc_clusters over edit chains plus one boilerplate family:
    CC contracts long paths over several rounds and one hot root; the
    boilerplate bucket overflows max_bucket_size, so LSH salts it."""

    name = "text_chains"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        s = self.scale
        self.corpus = gen.text_chains(
            self.seed, n_chains=max(2, int(30 * s)), chain_len=48,
            n_boilerplate=int(400 * s), n_singletons=int(1_000 * s))
        self.rows = len(self.corpus.docs)

    def prepare(self) -> None:
        self.spark.createDataFrame(self.corpus.docs).write.mode(
            "overwrite").parquet(self.path("docs"))

    def run(self):
        df = self.spark.read.parquet(self.path("docs"))
        rows = minhash_doc_clusters(df, "doc_id", "text", TEXT_CFG).collect()
        return {r["doc_id"]: r["cluster_id"] for r in rows}

    def check(self, found):
        _expect("clustered ids", set(found), set(self.corpus.labels))
        self.labels = found
        return gen.pair_scores(self.corpus.labels, found)

    def traced(self, tr):
        """minhash_doc_clusters = minhash_lsh_doc_pairs + CC."""
        cfg = TEXT_CFG
        df = self.spark.read.parquet(self.path("docs"))
        with tr.span("features"):
            feats = (
                df.select(F.col("doc_id").alias("id"),
                          tokens_expr(F.coalesce(F.col("text"), F.lit("")))
                          .alias("tokens"))
                .withColumn("shingle_hashes", shingle_hashes_expr(
                    shingles_expr("tokens", cfg.shingle_k)))
                .withColumn("minhash_buckets", minhash_buckets_expr(
                    "shingle_hashes", cfg.num_perm, cfg.bands,
                    cfg.minhash_seed))
                .select("id", "shingle_hashes", "minhash_buckets")
                .localCheckpoint())
        with tr.span("lsh"):
            bb = array_band_buckets(feats, "id", "minhash_buckets", "minhash")
            cand, dropped = candidate_pairs(bb, cfg.max_bucket_size)
            cand = cand.localCheckpoint()
            n_cand = cand.count()
            tr.add("lsh", candidate_pairs=n_cand,
                   dropped_buckets=dropped.count())
        with tr.span("verify"):
            pairs = verify_jaccard(cand, feats, "shingle_hashes",
                                   cfg.jaccard_threshold) \
                .drop("families").localCheckpoint()
            n_ok = pairs.count()
            tr.add("verify", pairs_in=n_cand, passed=n_ok)
        with tr.span("cc"), _CountCalls(cc, "_small_star") as rounds:
            comp = cc.connected_components(
                pairs.select("id_l", "id_r"),
                nodes=df.select(F.col("doc_id").alias("id")),
                id_type=dict(df.dtypes)["doc_id"], edges_distinct=True)
            rows = comp.collect()
        tr.add("cc", rounds=rounds.calls, edges_in=n_ok)
        return {r["id"]: r["cluster_id"] for r in rows}


# ---------------------------------------------------------------- tabular

class ExactIncremental(Workload):
    """The reference's tabular mode: keep-first exact dedup of batch 1
    with report and three reconciled sinks, then seen-hash incremental
    dedup of batch 2 against the ledger batch 1 wrote."""

    name = "exact_incremental"
    KEYS = gen.EXACT_KEYS

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        n1 = max(1_000, int(40_000 * self.scale))
        (self.b1, self.t1, self.b2, self.t2) = gen.exact_batches(
            self.seed, n1, n1 // 2)
        self.rows = len(self.b1) + len(self.b2)

    def prepare(self) -> None:
        for name, pdf in (("batch1", self.b1), ("batch2", self.b2)):
            self.spark.createDataFrame(pdf).write.mode("overwrite").parquet(
                self.path(name))

    def _sinks(self, batch: int) -> dict[str, str]:
        return {f"{k}_path": self.path(f"{k}{batch}")
                for k in ("target", "dupes", "hashes")}

    def run(self):
        spark = self.spark
        b1 = spark.read.parquet(self.path("batch1"))
        res1 = exact_dedup(b1, self.KEYS, order_col="row_id")
        rep1 = build_report(res1, list(self.KEYS), b1.columns)
        write_dedup_outputs(spark, res1, rep1, **self._sinks(1))
        b2 = spark.read.parquet(self.path("batch2"))
        inc = incremental_dedup(
            b2, spark.read.parquet(self.path("hashes1")), self.KEYS,
            order_col="row_id")
        seen = {r[0] for r in inc.already_seen.select("row_id").collect()}
        rep2 = build_report(inc.inner, list(self.KEYS), b2.columns)
        write_dedup_outputs(spark, inc.inner, rep2, **self._sinks(2))
        return rep1, rep2, seen

    def traced(self, tr):
        spark = self.spark
        reports = []
        seen: set[int] = set()
        for batch in (1, 2):
            df = spark.read.parquet(self.path(f"batch{batch}"))
            with tr.span("exact"):
                if batch == 1:
                    res = exact_dedup(df, self.KEYS, order_col="row_id")
                else:
                    inc = incremental_dedup(
                        df, spark.read.parquet(self.path("hashes1")),
                        self.KEYS, order_col="row_id")
                    seen = {r[0] for r in
                            inc.already_seen.select("row_id").collect()}
                    res = inc.inner
                res.keyed = res.keyed.localCheckpoint()
                res.survivors = res.survivors.localCheckpoint()
                res.dupe_groups = res.dupe_groups.localCheckpoint()
                res.hash_ledger = res.hash_ledger.localCheckpoint()
            with tr.span("report"):
                rep = build_report(res, list(self.KEYS), df.columns)
            with tr.span("sinks"):
                written = write_dedup_outputs(spark, res, rep,
                                              **self._sinks(batch))
            tr.add("sinks", rows_written=sum(written.values()),
                   bytes_written_mb=sum(_dir_mb(p) for p in
                                        self._sinks(batch).values()))
            tr.add("exact", dupe_groups=rep.distinct_dupe_count)
            reports.append(rep)
        tr.add("exact", seen_rows=len(seen))
        return reports[0], reports[1], seen

    def check(self, out):
        rep1, rep2, seen = out
        for rep, t in ((rep1, self.t1), (rep2, self.t2)):
            for field in ("record_count", "hash_count", "dupe_count",
                          "distinct_dupe_count"):
                _expect(field, getattr(rep, field), getattr(t, field))
        found = set()
        for batch in (1, 2):
            for r in self.spark.read.parquet(self.path(f"dupes{batch}")) \
                    .select("first_found_row_number", "row_ids").collect():
                first = r["first_found_row_number"]
                found.update((first, x) for x in json.loads(r["row_ids"]))
        planted = self.t1.dup_pairs | self.t2.dup_pairs
        _expect("seen rows", seen, set(self.t2.seen_rows))
        self.labels = (frozenset(found), frozenset(seen))
        return gen.set_scores(planted, found)


WORKLOADS = {w.name: w for w in (ImagePipeline, TextChains, ExactIncremental)}
