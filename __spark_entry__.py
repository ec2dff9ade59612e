"""Driver contract for the spark-graft builder (PySpark target).

queries() exposes the engine's operator surface (SURVEY.md §2) over the
driver's parquet tables; oracle_sql() gives the DuckDB-equivalent ANSI
SQL. Sketch-accelerated operators are oracled through their EXACT
output contracts (LSH+verify == all-pairs exact predicate; winnowed
substring == 45-char window join; LSH-ANN near-dup top-1 == brute
force; pipeline clusters == planted truth). Only SimHash pairs and DCT
phash features are rows-only (no ANSI equivalent of xxhash64
bit-votes / DCT).

All computed columns are aliased identically on both sides; float
outputs are either avoided (ids/ranks only) or rounded to 6 decimals
and cast to DOUBLE in the oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread_if_large(spark, sf_dir: str, name: str, df: DataFrame,
                     min_bytes: int = 2_000_000,
                     barrier: bool = False) -> DataFrame:
    """Scale-adaptive round-robin repartition after an unsplittable read.

    The driver's tables are ONE parquet file with ONE row group, so a
    scan is ONE task no matter what the split math says (row groups
    are the split granularity) — and everything before the first
    Exchange runs on one core. Guide §2.5: "input skew: one huge
    unsplittable file ... repartition immediately after the read".

    Measured trade-off (r6): at sf0.1 (0.6 MB of documents) the extra
    exchange + codegen costs MORE on a single-shot run than the ~1 s
    of single-task winnow/shingle work it parallelizes (fresh-process
    A/B: substring 5.0-5.7 s unspread vs 5.9-6.3 s spread), while at
    10x the single-task pass is ~12 s and the spread wins by an order
    of magnitude. So the repartition fires only when the layout is
    actually unsplit (fewer files than half the cores) AND the bytes
    are large enough to dominate the fixed cost — adaptive in data
    size, not tuned to either the local box or one SF. Applied only
    where the pre-exchange work is heavy per byte (winnow mapInPandas,
    n-gram shingle arrays); a blanket version in _t was a measured net
    loss for the cheap relational scans. Row-set outputs are
    partitioning-independent, so results are unchanged."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        files = [os.path.join(path, f) for f in os.listdir(path)
                 if f.endswith(".parquet")]
    else:
        files = [path]
    par = spark.sparkContext.defaultParallelism
    if (len(files) < max(par // 2, 2)
            and sum(os.path.getsize(f) for f in files) >= min_bytes):
        out = df.repartition(par)
        if barrier:
            # consumers whose FIRST operation is a deterministic
            # filter need a lineage barrier: PushDownPredicates moves
            # such a filter through the Repartition back into the
            # single scan task, re-serializing exactly the work the
            # spread was bought for (measured: clean_corpus's
            # lang+quality filters stayed at 7.4 s single-task with a
            # plain repartition, ~0.6 s behind the barrier). The lazy
            # localCheckpoint materializes the spread rows at the
            # consumer's first action; only fires on the same
            # single-file-AND-large inputs as the spread itself.
            out = out.localCheckpoint(eager=False)
        return out
    return df


# ---------------------------------------------------------------------------
# flagship: full image near-dup pipeline on the deterministic synthetic
# corpus (BASELINE.json input_hint shape)
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    from deduper_spark.config import DedupConfig
    from deduper_spark.pipeline import DedupPipeline
    from deduper_spark.synth import make_df

    df = make_df(spark, seed=42, n=200)
    res = DedupPipeline(DedupConfig()).run(spark, df)
    return res.clusters  # (image_id, cluster_id)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

LI_KEYS = ("l_orderkey", "l_partkey")




def q_exact_dedup_survivors(spark, sf_dir):
    """O10 keep-first dedup.

    r6 optimization (guide §2.3 "aggregate before you shuffle"): the
    md5 hash is injective on its inputs, so PARTITION BY hash ==
    GROUP BY (l_orderkey, l_partkey), and the surviving row's columns
    are all functionally determined by (group key, min l_linenumber)
    — l_linenumber is unique within an order. The window-over-hash
    plan md5'd every row, sorted twice and shuffled a 32-char string
    per row; this partial-aggregating groupBy shuffles two longs and
    never materializes the hash at all. Result set is identical
    (oracle: check_entry green; plans/r06/exact_dedup_survivors_*)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(F.min("l_linenumber").alias("l_linenumber"))
        .select("l_orderkey", "l_partkey", "l_linenumber")
    )


def q_dupe_groups(spark, sf_dir):
    """O11 dupe-group aggregation: row_ids JSON + first-found + size.

    r6 optimization (guide §2.3): group on the NATURAL key pair and
    compute the md5 hash string AFTER the group-size filter — the md5
    count drops from |rows| to |dupe groups| (~10^-4 of rows) and the
    shuffle carries (long, long, int) instead of a 32-char hash string
    per row. Same group partition (md5 is injective on the key pair),
    identical output rows."""
    from deduper_spark.functions.keys import md5_key_expr

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber")
    # pass 1 — decide with small rows: counting aggregates only (pure
    # codegen HashAggregate with map-side partials; a collect_list over
    # every row would force ObjectHashAggregate into its sort-based
    # fallback past 128 keys/map). ~10^-4 of groups survive the filter.
    groups = (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(
            F.min("l_linenumber").cast("long").alias("first_found"),
            F.count("*").cast("long").alias("group_size"),
        )
        .where(F.col("group_size") > 1)
    )
    # pass 2 — collect row_ids for the surviving groups only: the join
    # against the tiny group set broadcasts (AQE), so the only rows
    # that reach the collect_list shuffle are actual dupes.
    return (
        li.join(groups, list(LI_KEYS))
        .groupBy("l_orderkey", "l_partkey", "first_found", "group_size")
        .agg(F.to_json(F.sort_array(
            F.collect_list("l_linenumber"))).alias("row_ids"))
        .select(md5_key_expr(list(LI_KEYS)).alias("hash"),
                "row_ids", "first_found", "group_size")
    )


def q_hash_ledger(spark, sf_dir):
    """O21 hash ledger: distinct hash + first ordinal + multiplicity.

    r6: group on the natural key pair (narrow shuffle, no per-row md5
    string through the Exchange); the hash is emitted per GROUP after
    the aggregation — same rows, one md5 per distinct key."""
    from deduper_spark.functions.keys import md5_key_expr

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(
            F.min("l_linenumber").cast("long").alias("first_ln"),
            F.count("*").cast("long").alias("n_rows"),
        )
        .select(md5_key_expr(list(LI_KEYS)).alias("hash"),
                "first_ln", "n_rows")
    )


def q_incremental_anti(spark, sf_dir):
    """O12 anti-join vs seen-hash ledger (incremental mode).

    r6 optimization (guide §2.3/§3.1): the ledger's md5 is injective on
    (l_orderkey, l_partkey), so membership-by-hash == membership by the
    natural key pair. Anti-joining on the two longs drops the per-row
    md5 on BOTH sides and shrinks the join key from a 32-char string to
    16 bytes — the distinct'd ledger then broadcasts (AQE), so the big
    side is never shuffled. Identical surviving rows."""
    li = _t(spark, sf_dir, "lineitem")
    ledger = (
        li.where(F.col("l_orderkey") % 2 == 0)
        .select("l_orderkey", "l_partkey").distinct()
    )
    return (
        li.join(ledger, list(LI_KEYS), "left_anti")
        .select("l_orderkey", "l_partkey", "l_linenumber")
    )


def q_incremental_semi(spark, sf_dir):
    """O12 semi-join: rows already present in the ledger, counted per hash.

    r6: semi-join + group on the natural key pair; the hash string is
    computed once per surviving GROUP after aggregation (same rows —
    md5 is injective on the pair)."""
    from deduper_spark.functions.keys import md5_key_expr

    li = _t(spark, sf_dir, "lineitem")
    ledger = (
        li.where(F.col("l_orderkey") % 2 == 0)
        .select("l_orderkey", "l_partkey").distinct()
    )
    return (
        li.join(ledger, list(LI_KEYS), "left_semi")
        .groupBy("l_orderkey", "l_partkey")
        .agg(F.count("*").cast("long").alias("seen_rows"))
        .select(md5_key_expr(list(LI_KEYS)).alias("hash"), "seen_rows")
    )


def q_agg_pricing(spark, sf_dir):
    """O14 counting/summing aggregates (TPC-H Q1 pattern)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_quantity") > 10)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def q_join_agg(spark, sf_dir):
    """Broadcast dim join (orders x customer) + aggregate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_window_topk(spark, sf_dir):
    """Window top-k: 3 priciest orders per customer."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


def q_set_ops(spark, sf_dir):
    """Set operations: high-value EXCEPT low-value customers."""
    o = _t(spark, sf_dir, "orders")
    hi = o.where(F.col("o_totalprice") > 150000).select("o_custkey")
    lo = o.where(F.col("o_totalprice") < 50000).select("o_custkey")
    return hi.distinct().exceptAll(lo.distinct()).withColumnRenamed(
        "o_custkey", "custkey"
    )


# ------------------------------------------------- documents (text ops)

def _docs_aug_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copy = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return d.unionByName(copy)


def q_doc_exact_dedup(spark, sf_dir):
    """Exact text dedup over augmented docs (1/5 duplicated)."""
    from deduper_spark.operators.exact import exact_dedup

    aug = _docs_aug_exact(spark, sf_dir)
    res = exact_dedup(aug, ("text",), order_col="doc_id")
    return res.survivors.select(F.col("doc_id").cast("long").alias("doc_id"))


def q_doc_ngram_jaccard(spark, sf_dir):
    """Blocked token-3-gram Jaccard near-dup pairs (SQL-expressible)."""
    from deduper_spark.operators.dedup_text import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    near = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz extra tail token")).alias("text"),
    )
    aug = _spread_if_large(spark, sf_dir, "documents", d.unionByName(near))
    return (
        ngram_jaccard_pairs(aug, "doc_id", "text", k=3, prefix_tokens=5,
                            threshold=0.3)[0]
        .select(
            F.col("id_l").cast("long").alias("id_l"),
            F.col("id_r").cast("long").alias("id_r"),
            F.col("jaccard"),
        )
    )


def q_token_count(spark, sf_dir):
    from deduper_spark.functions.textstats import token_count_expr

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", token_count_expr("text").cast("long").alias("n_tokens")
    )


def q_quality_score(spark, sf_dir):
    """Quality scoring in integer micro-units — BIGINT-only arithmetic
    so the DuckDB oracle matches bit-for-bit (floats never belong in
    hash-compared columns)."""
    from deduper_spark.functions.textstats import quality_micro_expr

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_micro_expr("text").alias("quality_micro"))


def q_lang_id(spark, sf_dir):
    from deduper_spark.functions.textstats import lang_id_expr

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id_expr("text").alias("pred_lang"))


def q_doc_fingerprint(spark, sf_dir):
    from deduper_spark.functions.textstats import fingerprint_expr

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_expr("text", 5).alias("fingerprint"))


# ------------------------------------------------- embeddings (vector ops)

def _emb_aug(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    copy = e.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    return e.unionByName(copy)


def q_emb_cosine_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs (>=0.99), blocked by multiprobe
    hyperplane-LSH buckets (the scale path — no semantic blocker, no
    all-pairs join). The oracle is the UNBLOCKED all-pairs predicate:
    at cosine >= 0.99 the probe-radius-1 blocker is exhaustive here,
    which is exactly the recall property being asserted."""
    from deduper_spark.operators.dedup_text import embedding_cosine_pairs

    aug = _emb_aug(spark, sf_dir)
    return embedding_cosine_pairs(
        aug, "vec_id", "embedding", threshold=0.99
    ).select(
        F.col("id_l").cast("long").alias("id_l"),
        F.col("id_r").cast("long").alias("id_r"),
    )


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-3 for query vectors vec_id < 10."""
    from deduper_spark.operators.ann import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    return brute_force_topk(e, q, k=3).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------- rows-only (non-SQL-expressible)

def q_doc_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup doc pairs, verified by EXACT shingle-set
    Jaccard >= 0.7. bands=32 x rows=4 puts the banding S-curve
    threshold at (1/32)^(1/4) ~ 0.42, far below the 0.7 verification
    cut, so candidate recall at >= 0.7 is ~1-2e-14 per pair — the
    output equals the all-pairs exact predicate, which IS the DuckDB
    oracle (the sketch is the accelerator, the predicate the contract)."""
    from deduper_spark.config import FuzzyConfig
    from deduper_spark.operators.dedup_text import minhash_lsh_doc_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    near = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz extra tail")).alias("text"),
    )
    aug = _spread_if_large(spark, sf_dir, "documents", d.unionByName(near))
    cfg = FuzzyConfig(bands=32, rows_per_band=4, jaccard_threshold=0.7)
    return minhash_lsh_doc_pairs(aug, "doc_id", "text", cfg).select(
        F.col("id_l").cast("long").alias("id_l"),
        F.col("id_r").cast("long").alias("id_r"),
    )


def q_doc_chunk_dedup(spark, sf_dir):
    """Span-level exact dedup (C4/CCNet-style duplicate-span removal):
    10-token chunks, global keep-first by (doc_id, position), documents
    reassembled from surviving chunks. Aug plants full copies (every
    9th doc — all chunks drop, the doc disappears) and half-overlap
    copies (every 11th doc — first 30 tokens drop, novel tail
    survives), exercising both removal shapes."""
    from deduper_spark.operators.prune import chunk_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    full = d.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text")
    half = d.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 30), " "),
            F.lit(" unique tail marker "), F.col("doc_id").cast("string"),
        ).alias("text"))
    aug = _spread_if_large(spark, sf_dir, "documents",
                           d.unionByName(full).unionByName(half))
    return chunk_dedup(aug, "doc_id", "text", chunk_words=10).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text_dedup", "n_chunks", "n_kept")


def q_doc_cluster_assign(spark, sf_dir):
    """Near-dup CLUSTER ASSIGNMENT for every doc: transitive closure
    over verified MinHash-LSH pairs via the CC operator, singletons
    labeling themselves. The oracle recomputes the
    closure with a RECURSIVE CTE over the exact-Jaccard pair set — the
    first driver check of the CC operator against an independent
    transitive-closure implementation (image_dedup_clusters checks
    against planted truth instead)."""
    from deduper_spark.config import FuzzyConfig
    from deduper_spark.operators.dedup_text import minhash_doc_clusters

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    near = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz extra tail")).alias("text"),
    )
    aug = _spread_if_large(spark, sf_dir, "documents", d.unionByName(near))
    cfg = FuzzyConfig(bands=32, rows_per_band=4, jaccard_threshold=0.7)
    return minhash_doc_clusters(aug, "doc_id", "text", cfg).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"))


def q_doc_fuzzy_survivors(spark, sf_dir):
    """Fuzzy keep-first survivor selection: drop every doc whose
    verified n-gram-Jaccard neighborhood (>= 0.3, same blocked
    predicate as doc_ngram_jaccard) contains a smaller doc_id."""
    from deduper_spark.operators.dedup_text import ngram_jaccard_pairs
    from deduper_spark.operators.prune import drop_near_duplicates

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    near = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz extra tail token")).alias("text"),
    )
    aug = _spread_if_large(spark, sf_dir, "documents", d.unionByName(near))
    pairs, _ = ngram_jaccard_pairs(aug, "doc_id", "text", k=3,
                                   prefix_tokens=5, threshold=0.3)
    return drop_near_duplicates(aug.select("doc_id"), pairs, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"))


def q_semantic_prune(spark, sf_dir):
    """SemDeDup-style semantic dedup: survivors with no smaller-id
    neighbor at cosine >= 0.99, candidates from multiprobe hyperplane
    LSH (same blocker recall contract as emb_cosine_dups — the oracle
    is the unblocked all-pairs predicate in NOT-IN form)."""
    from deduper_spark.operators.prune import semantic_prune

    aug = _emb_aug(spark, sf_dir)
    return semantic_prune(aug, "vec_id", "embedding", threshold=0.99).select(
        F.col("vec_id").cast("long").alias("vec_id"))


def q_doc_tfidf_topk(spark, sf_dir):
    """Top-3 tf-idf terms per doc; score = tf * ln((N+1)/(df+1))
    rounded to 6 decimals, ties broken by term ascending (total order,
    engine-independent)."""
    from deduper_spark.functions.textstats import tfidf_topk

    d = _spread_if_large(spark, sf_dir, "documents",
                         _t(spark, sf_dir, "documents"))
    return tfidf_topk(d, "doc_id", "text", k=3).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "rank", "term", "score")


def q_clean_corpus(spark, sf_dir):
    """The composed C4-style cleaning pipeline: language filter ('en')
    -> quality floor (600k micro-units) -> exact doc dedup -> span
    dedup, over an augmented corpus with planted full copies (killed
    by the exact stage) and half-overlap copies (trimmed by the span
    stage). The oracle recomposes all four already-oracled stages in
    one SQL chain."""
    from deduper_spark.operators.prune import clean_text_corpus

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    full = d.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text")
    half = d.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 30), " "),
            F.lit(" unique tail marker "), F.col("doc_id").cast("string"),
        ).alias("text"))
    aug = _spread_if_large(spark, sf_dir, "documents",
                           d.unionByName(full).unionByName(half),
                           barrier=True)
    return clean_text_corpus(aug).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text_dedup", "n_chunks", "n_kept")


def q_corpus_split(spark, sf_dir):
    """Reproducible train/val/test assignment (0.8/0.1/0.1):
    label = CASE over the first 4 hex chars of md5(seed || ':' || id)
    against fixed hex thresholds — a pure projection both engines
    compute identically (no RNG, no integer hex parsing)."""
    from deduper_spark.operators.sampling import deterministic_split

    d = _t(spark, sf_dir, "documents")
    return deterministic_split(d).select("doc_id", "split")


def q_doc_simhash(spark, sf_dir):
    """SimHash-accelerated ORDER-INVARIANT dedup, oracled through the
    exact predicate it verifies (the minhash-query pattern: sketch =
    accelerator, predicate = contract). SimHash is a pure function of
    the token MULTISET, so equal multisets always collide at hamming 0
    (recall 1.0: the banding catches hamming 0 trivially); the inline
    hamming-0 self-join prunes candidates to near-identical multisets,
    and an exact multiset-equality verification (md5 of the sorted
    token list) confirms — hamming 0 alone is NOT equality (a doc
    differing by ONE token usually flips zero vote bits; measured 6
    such sym-diff-1 pairs at sf0.01). The augmentation plants
    SORTED-TOKEN copies: same multiset, different text — the class
    exact dedup misses and n-gram overlap scores low, i.e. the
    capability simhash exists for. The DuckDB oracle recomputes
    multiset equality directly. (Hamming thresholds > 0 are covered by
    the brute-force unit test, tests/test_round3.py.)"""
    from deduper_spark.config import FuzzyConfig
    from deduper_spark.functions.text import normalize_expr
    from deduper_spark.operators.dedup_text import simhash_doc_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    shuffled = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(
            F.array_sort(F.split(normalize_expr("text"), " ")), " "
        ).alias("text"),
    )
    aug = _spread_if_large(spark, sf_dir, "documents", d.unionByName(shuffled))
    cfg = FuzzyConfig(simhash_hamming_threshold=0)
    cand = simhash_doc_pairs(aug, "doc_id", "text", cfg)
    keys = aug.select(
        F.col("doc_id"),
        F.md5(F.array_join(F.array_sort(F.split(normalize_expr("text"), " ")),
                           " ")).alias("k"),
    )
    return (
        cand
        .join(keys.select(F.col("doc_id").alias("id_l"),
                          F.col("k").alias("k_l")), "id_l")
        .join(keys.select(F.col("doc_id").alias("id_r"),
                          F.col("k").alias("k_r")), "id_r")
        .where(F.col("k_l") == F.col("k_r"))
        .select(
            F.col("id_l").cast("long").alias("id_l"),
            F.col("id_r").cast("long").alias("id_r"),
        )
    )


def q_image_dedup_clusters(spark, sf_dir):
    """Full image near-dup pipeline on the deterministic synth corpus."""
    from deduper_spark.config import DedupConfig
    from deduper_spark.pipeline import DedupPipeline
    from deduper_spark.synth import make_df

    df = make_df(spark, seed=42, n=300)
    return DedupPipeline(DedupConfig()).run(spark, df).clusters


def q_image_features(spark, sf_dir):
    """Multimodal decode + feature extraction (mapInPandas), oracled
    by planted truth: the synth corpus is a pure function of (seed, i)
    — every valid blob decodes to 64x64 — and 10 poisoned blobs are
    appended to exercise the decode-failure isolation path
    (decode_ok=false rows, never a killed job). The compared
    projection is the index-derivable part (id, decode_ok, w, h);
    channel means and the DCT phash have no ANSI equivalent and are
    covered by invariance unit tests."""
    from deduper_spark.operators.multimodal import extract_image_features
    from deduper_spark.synth import make_df

    df = make_df(spark, seed=42, n=100).select("image_id", "bytes")
    poison = spark.range(10).select(
        F.concat(F.lit("bad"), F.lpad(F.col("id").cast("string"), 9, "0")
                 ).alias("image_id"),
        F.lit(bytearray(b"not an image blob")).alias("bytes"),
    )
    feats = extract_image_features(df.unionByName(poison),
                                   "image_id", "bytes")
    return feats.select("id", "decode_ok", "w", "h")


def q_doc_substring_sa(spark, sf_dir):
    """Exact-substring pass: winnowed fingerprint candidates (recall
    1.0 by the winnowing guarantee) + literal per-pair verification —
    EXACT, so the DuckDB 45-char-window join oracle reproduces it.
    Fully distributed: no doc sharding, no coalesce anywhere."""
    from deduper_spark.operators.suffix import winnowed_substring_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    wrapped = d.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.lit("prefix words here "), F.col("text"),
                 F.lit(" and trailing words")).alias("text"),
    )
    aug = _spread_if_large(spark, sf_dir, "documents",
                           d.unionByName(wrapped)).select(
        F.col("doc_id").cast("string").alias("id"),
        F.lower(F.col("text")).alias("norm_caption"),
    )
    pairs, _ = winnowed_substring_pairs(aug, min_len=45)
    # pair orientation inside the op is string-lexicographic; the
    # oracle compares numeric ids — re-canonicalize numerically
    l_ = F.col("id_l").cast("long")
    r_ = F.col("id_r").cast("long")
    return pairs.select(
        F.least(l_, r_).alias("id_l"), F.greatest(l_, r_).alias("id_r")
    )


def q_pipeline_incremental(spark, sf_dir):
    """Flagship DedupPipeline in INCREMENTAL mode (exact family slice):
    a seen-hash ledger from a simulated prior run (even doc_ids) is
    preloaded via DedupConfig.seen_hashes_path; seen rows drop out
    before clustering and the output is the fresh rows' clusters —
    exactly reproducible in SQL (md5 over 'caption, phash' with
    phash := length(text), so the key is ANSI-expressible)."""
    import tempfile, os, uuid  # noqa: E401

    from deduper_spark.config import DedupConfig
    from deduper_spark.functions.keys import md5_key_expr
    from deduper_spark.pipeline import DedupPipeline

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    aug = d.unionByName(
        d.where(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    corpus = aug.select(
        F.lpad(F.col("doc_id").cast("string"), 9, "0").alias("image_id"),
        F.col("text").alias("caption"),
        F.length("text").cast("long").alias("phash"),
    )
    # per-invocation unique ledger dir: two concurrent bench/correctness
    # processes must never overwrite each other's seen ledger
    seen_dir = os.path.join(
        tempfile.gettempdir(),
        f"deduper_spark_q_pipeline_incr_{uuid.uuid4().hex}", "seen",
    )
    (
        corpus.where(F.col("image_id").cast("long") % 2 == 0)
        .select(md5_key_expr(["caption", "phash"]).alias("hash"))
        .distinct()
        .write.mode("overwrite").parquet(seen_dir)
    )
    pipe = DedupPipeline(
        DedupConfig(seen_hashes_path=seen_dir),
        families=("exact",),
        collect_metrics=False,
    )
    res = pipe.run(spark, corpus)
    return res.clusters.select("image_id", "cluster_id")


def q_emb_lsh_ann(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN on the retrieval task LSH is FOR:
    near-duplicate lookup. Queries are copies of corpus vectors; the
    true nearest neighbor (the source, cosine 1.0) shares the query's
    bucket by construction — identical vectors have identical
    signatures — so bucketed top-1 EQUALS brute-force top-1 and the
    exact brute-force SQL is the oracle. (Generic top-k at recall 1.0
    would be exact NN — no single-table LSH can promise that; rank >1
    neighbors are where ANN is allowed to be approximate.)"""
    from deduper_spark.operators.ann import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where((F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 200)).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    return lsh_topk(e, q, dim=64, k=1, n_planes=8, probe_radius=1).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_event_rollup(spark, sf_dir):
    """Hypertable-style time rollup: hourly buckets x event_type with
    count + value cents (pure Catalyst groupBy with map-side partials;
    operators/temporal.py). Bucket emitted as epoch seconds (BIGINT)
    so the comparison is time-zone-proof."""
    from deduper_spark.operators.temporal import time_rollup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    out = time_rollup(
        ev, ts_col="ts", bucket="hour", keys=("event_type",),
        aggs=[
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value") * 100).cast("long").alias("value_cents"),
        ],
    )
    return out.select(
        F.unix_timestamp("bucket_ts").cast("long").alias("bucket_s"),
        "event_type", "n_events", "value_cents",
    )


def q_event_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min gap) -> per-session stats.
    Window partitioned by user (hash shuffle on the entity key, no
    global sort); gap math in exact integer microseconds."""
    from deduper_spark.operators.temporal import session_stats

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    return session_stats(ev, entity_col="user_id", ts_col="ts",
                         gap_minutes=30.0, id_col="event_id").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_idx").cast("long").alias("session_idx"),
        "n_events", "start_s", "end_s", "duration_s",
    )


def q_audio_features(spark, sf_dir):
    """Multimodal AUDIO decode + feature extraction over REAL RIFF/PCM
    WAV blobs (functions/wav.py — no audio library), oracled by
    planted truth: the synth audio corpus is a pure function of
    (seed, i) with block-level params sr = 8000 + 4000*(block%3),
    channels = 1 + block%2, n_samples = sr (deduper_spark/synth.py).
    5 poisoned blobs exercise decode isolation. The compared
    projection is the index-derivable part; rms/zcr/centroid/afp are
    covered by unit tests (test_multimodal_av.py)."""
    from deduper_spark.operators.multimodal import extract_audio_features
    from deduper_spark.synth import make_audio_df

    df = make_audio_df(spark, seed=42, n=60).select("audio_id", "bytes")
    poison = spark.range(5).select(
        F.concat(F.lit("bad"), F.lpad(F.col("id").cast("string"), 9, "0")
                 ).alias("audio_id"),
        F.lit(bytearray(b"RIFF not a wav stream")).alias("bytes"),
    )
    feats = extract_audio_features(df.unionByName(poison),
                                   "audio_id", "bytes")
    return feats.select("id", "decode_ok", "sr", "channels", "n_samples")


def q_audio_dedup(spark, sf_dir):
    """Audio near-dup pairs via the gain-invariant energy-delta
    fingerprint through the SAME inline-Hamming LSH path as
    simhash/phash. Planted truth (index-derivable): per block of 10,
    role 6 is a byte-exact dup of role 0 and role 7 a gain-0.6
    re-master of role 1 — both at fingerprint Hamming 0; distinct
    clips sit >10 bits apart (measured floor 19 at this corpus size,
    test_audio_fingerprint_gain_and_noise_invariance)."""
    from deduper_spark.operators.multimodal import audio_dedup_pairs
    from deduper_spark.synth import make_audio_df

    df = make_audio_df(spark, seed=42, n=120)
    pairs = audio_dedup_pairs(df)
    return pairs.select(
        F.least("id_l", "id_r").alias("id_l"),
        F.greatest("id_l", "id_r").alias("id_r"),
    )


def q_video_frames(spark, sf_dir):
    """Video frame sampling over REAL MJPEG-in-AVI containers
    (functions/avi.py over the native T.81 JPEG codec), zero-transcode:
    sampled rows carry the embedded JPEG chunk bytes untouched.
    Planted truth: n_frames = 6 + 2*(block%3) per (seed, i)-pure synth
    clip, so the sampled (id, frame_idx) set is index-derivable; one
    poisoned blob exercises isolation. Frame CONTENT (bytes/phash) is
    covered by unit tests (zero-transcode equality, dup detection)."""
    from deduper_spark.operators.multimodal import sample_video_frames
    from deduper_spark.synth import make_video_df

    df = make_video_df(spark, seed=42, n=40).select("video_id", "bytes")
    poison = spark.createDataFrame(
        [("bad000000000", bytearray(b"RIFF\x00\x01\x02\x03AVI junk"))],
        "video_id string, bytes binary")
    out = sample_video_frames(df.unionByName(poison),
                              "video_id", "bytes", every_n=3)
    return out.select("id", "frame_idx", "decode_ok")


def q_video_dedup(spark, sf_dir):
    """Video near-dup pairs: per-frame phashes banded with the frame
    position in the bucket family, inline-Hamming self-join, pair
    passes when >=80% of co-sampled positions match. Planted truth
    (index-derivable): per block of 10 clips, role 6 is a byte-exact
    dup of role 0; a real lower-quality re-encode case is covered by
    test_video_dedup_pairs_planted_and_reencoded."""
    from deduper_spark.operators.multimodal import video_dedup_pairs
    from deduper_spark.synth import make_video_df

    df = make_video_df(spark, seed=42, n=40)
    return video_dedup_pairs(df, every_n=2).select("id_l", "id_r")


def q_video_shifted(spark, sf_dir):
    """Shift-tolerant video near-dup pairs: offset voting over
    positionless frame-phash pairs catches TRIMMED copies positional
    matching misses. Planted truth (index-derivable): every i%5==2
    clip has a trimmed copy (first 2 frames cut, re-encoded q85) that
    aligns at offset -2 with n_frames-2 frame votes; the per-block
    byte-exact role-6 dups also align, at offset 0 with all frames."""
    from deduper_spark.operators.multimodal import video_dedup_pairs_shifted
    from deduper_spark.synth import make_shifted_video_df

    df = make_shifted_video_df(spark, seed=42, n=20)
    out = video_dedup_pairs_shifted(df, min_matched_frames=3)
    return out.select(
        "id_l", "id_r",
        F.col("offset").cast("int").alias("frame_offset"),
        F.col("matched_frames").cast("long").alias("matched_frames"))


def q_event_debounce(spark, sf_dir):
    """Near-time duplicate suppression: drop an event when the same
    user's previous event is < 4 h older (lag predicate, integer
    microsecond gaps — pure window expression, no iterative state)."""
    from deduper_spark.operators.temporal import debounce

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _t(spark, sf_dir, "events")
    kept = debounce(ev, keys=("user_id",), ts_col="ts",
                    min_gap_seconds=14400.0, id_col="event_id")
    return kept.select(F.col("event_id").cast("long").alias("event_id"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dedup_survivors": q_exact_dedup_survivors,
        "dupe_groups": q_dupe_groups,
        "hash_ledger": q_hash_ledger,
        "incremental_anti": q_incremental_anti,
        "incremental_semi": q_incremental_semi,
        "agg_pricing": q_agg_pricing,
        "join_agg": q_join_agg,
        "window_topk": q_window_topk,
        "set_ops": q_set_ops,
        "doc_exact_dedup": q_doc_exact_dedup,
        "doc_ngram_jaccard": q_doc_ngram_jaccard,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "emb_cosine_dups": q_emb_cosine_dups,
        "ann_topk": q_ann_topk,
        "doc_chunk_dedup": q_doc_chunk_dedup,
        "doc_cluster_assign": q_doc_cluster_assign,
        "doc_fuzzy_survivors": q_doc_fuzzy_survivors,
        "semantic_prune": q_semantic_prune,
        "doc_tfidf_topk": q_doc_tfidf_topk,
        "corpus_split": q_corpus_split,
        "clean_corpus": q_clean_corpus,
        "pipeline_incremental": q_pipeline_incremental,
        "doc_minhash_lsh": q_doc_minhash_lsh,
        "doc_substring_sa": q_doc_substring_sa,
        "image_dedup_clusters": q_image_dedup_clusters,
        "emb_lsh_ann": q_emb_lsh_ann,
        "event_rollup": q_event_rollup,
        "event_sessions": q_event_sessions,
        "event_debounce": q_event_debounce,
        "audio_features": q_audio_features,
        "audio_dedup": q_audio_dedup,
        "video_frames": q_video_frames,
        "video_dedup": q_video_dedup,
        "video_shifted": q_video_shifted,
        # oracled via exact sketch contracts / planted truth (see the
        # per-query docstrings): hamming-0 simhash == token-multiset
        # equality; image features == index-derivable (decode_ok, w, h)
        "doc_simhash": q_doc_simhash,
        "image_features": q_image_features,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_LI_HASH = (
    "upper(md5(concat_ws(', ', coalesce(l_orderkey::VARCHAR, 'null'), "
    "coalesce(l_partkey::VARCHAR, 'null'))))"
)

_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_TOKS = f"string_split_regex({_NORM}, '\\s+')"

_SW = {
    "en": "['the','and','of','to','a','in','is','it','for','on']",
    "de": "['der','die','das','und','ist','von','mit','den','ein','zu']",
    "fr": "['le','la','les','et','de','un','une','est','pour','dans']",
    "es": "['el','la','los','las','y','de','un','una','es','para']",
}


def oracle_sql() -> dict[str, str]:
    lo_toks = "string_split_regex(trim(lower(text)), '\\s+')"
    sw_counts = ", ".join(
        f"len(list_filter({lo_toks}, t -> list_contains({_SW[l]}, t))) AS c_{l}"
        for l in ("en", "de", "fr", "es")
    )
    grams3 = (
        "list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks,' ')] "
        "ELSE list_transform(range(len(toks)-2), "
        "i -> array_to_string(list_slice(toks, i+1, i+3), ' ')) END)"
    )
    shingles5 = (
        "CASE WHEN len(toks) < 5 THEN [array_to_string(toks,' ')] "
        "ELSE list_transform(range(len(toks)-4), "
        "i -> array_to_string(list_slice(toks, i+1, i+5), ' ')) END"
    )
    return {
        "exact_dedup_survivors": f"""
            SELECT l_orderkey, l_partkey, l_linenumber
            FROM (SELECT l_orderkey, l_partkey, l_linenumber,
                         row_number() OVER (PARTITION BY {_LI_HASH}
                                            ORDER BY l_linenumber) rn
                  FROM lineitem)
            WHERE rn = 1
        """,
        "dupe_groups": f"""
            SELECT {_LI_HASH} AS hash,
                   to_json(list(l_linenumber ORDER BY l_linenumber))::VARCHAR AS row_ids,
                   min(l_linenumber)::BIGINT AS first_found,
                   count(*)::BIGINT AS group_size
            FROM lineitem GROUP BY 1 HAVING count(*) > 1
        """,
        "hash_ledger": f"""
            SELECT {_LI_HASH} AS hash,
                   min(l_linenumber)::BIGINT AS first_ln,
                   count(*)::BIGINT AS n_rows
            FROM lineitem GROUP BY 1
        """,
        "incremental_anti": f"""
            SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem l
            WHERE {_LI_HASH} NOT IN (
                SELECT {_LI_HASH} FROM lineitem WHERE l_orderkey % 2 = 0)
        """,
        "incremental_semi": f"""
            SELECT {_LI_HASH} AS hash, count(*)::BIGINT AS seen_rows
            FROM lineitem l
            WHERE {_LI_HASH} IN (
                SELECT {_LI_HASH} FROM lineitem WHERE l_orderkey % 2 = 0)
            GROUP BY 1
        """,
        "agg_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2)::DOUBLE AS sum_qty,
                   round(sum(l_extendedprice), 2)::DOUBLE AS sum_base_price,
                   round(avg(l_discount), 6)::DOUBLE AS avg_disc,
                   count(*)::BIGINT AS count_order
            FROM lineitem WHERE l_quantity > 10
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_agg": """
            SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
                   round(sum(o_totalprice), 2)::DOUBLE AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "window_topk": """
            SELECT o_custkey, o_orderkey, rnk FROM (
                SELECT o_custkey, o_orderkey,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC,
                                                   o_orderkey ASC)::BIGINT rnk
                FROM orders)
            WHERE rnk <= 3
        """,
        "set_ops": """
            SELECT DISTINCT o_custkey AS custkey FROM orders
            WHERE o_totalprice > 150000
            EXCEPT ALL
            SELECT DISTINCT o_custkey AS custkey FROM orders
            WHERE o_totalprice < 50000
        """,
        "doc_exact_dedup": """
            WITH aug AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0
            )
            SELECT min(doc_id)::BIGINT AS doc_id FROM aug GROUP BY text
        """,
        "doc_ngram_jaccard": f"""
            WITH aug AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000, text || ' zz extra tail token'
                FROM documents WHERE doc_id % 7 = 0
            ),
            feats AS (
                SELECT doc_id,
                       {_TOKS} AS toks
                FROM aug
            ),
            g AS (
                SELECT doc_id,
                       array_to_string(list_slice(toks, 1, 5), ' ') AS block,
                       {grams3} AS grams
                FROM feats
            )
            SELECT a.doc_id::BIGINT AS id_l, b.doc_id::BIGINT AS id_r,
                   round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                         greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1),
                         6)::DOUBLE AS jaccard
            FROM g a JOIN g b ON a.block = b.block AND a.doc_id < b.doc_id
            WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                        greatest(len(list_distinct(list_concat(a.grams, b.grams))), 1),
                        6) >= 0.3
        """,
        "token_count": """
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                   END::BIGINT AS n_tokens
            FROM documents
        """,
        "quality_score": f"""
            SELECT doc_id, (
                least(CASE WHEN trim(text) = '' THEN 0
                           ELSE len(string_split_regex(trim(text), '\\s+'))
                      END::BIGINT * 10000, 500000)
                + least(floor(len(list_filter({lo_toks},
                            t -> list_contains({_SW['en']}, t)))::BIGINT
                          * 1500000
                          / greatest(len({lo_toks}), 1))::BIGINT, 300000)
                + 200000 - floor((length(text) -
                     length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::BIGINT
                     * 200000 / greatest(length(text), 1))::BIGINT
                )::BIGINT AS quality_micro
            FROM documents
        """,
        "lang_id": f"""
            WITH s AS (SELECT doc_id, {sw_counts} FROM documents)
            SELECT doc_id,
                   CASE WHEN c_en = 0 AND c_de = 0 AND c_fr = 0 AND c_es = 0
                            THEN 'und'
                        WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es
                            THEN 'en'
                        WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
                        WHEN c_fr >= c_es THEN 'fr'
                        ELSE 'es' END AS pred_lang
            FROM s
        """,
        "doc_fingerprint": f"""
            WITH f AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
            SELECT doc_id,
                   list_aggregate(list_transform({shingles5}, s -> md5(s)),
                                  'min') AS fingerprint
            FROM f
        """,
        "emb_cosine_dups": """
            WITH aug AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 10000, embedding
                FROM embeddings WHERE vec_id % 10 = 0
            ),
            n AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                    x -> x*x))) AS nrm
                FROM aug
            )
            SELECT a.vec_id::BIGINT AS id_l, b.vec_id::BIGINT AS id_r
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE round(list_sum(list_transform(range(64),
                      i -> a.v[i+1] * b.v[i+1])) / (a.nrm * b.nrm), 6) >= 0.99
        """,
        "doc_chunk_dedup": f"""
            WITH aug0 AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 300000, text FROM documents WHERE doc_id % 9 = 0
                UNION ALL
                SELECT doc_id + 400000,
                       array_to_string(string_split(text, ' ')[1:30], ' ')
                         || ' unique tail marker ' || doc_id::VARCHAR
                FROM documents WHERE doc_id % 11 = 0
            ),
            -- NULL text coalesces to '' (mirrors chunk_dedup's contract)
            aug AS (SELECT doc_id, coalesce(text, '') AS text FROM aug0),
            t AS (SELECT doc_id, {_TOKS} AS toks FROM aug),
            c AS (
                SELECT doc_id, i::BIGINT AS ci,
                       array_to_string(
                           toks[(i*10+1)::BIGINT:(i*10+10)::BIGINT], ' '
                       ) AS chunk
                FROM t, unnest(range(greatest((len(toks)+9)//10, 1))) AS u(i)
            ),
            k AS (SELECT doc_id, ci, chunk,
                         row_number() OVER (PARTITION BY chunk
                                            ORDER BY doc_id, ci) AS rn,
                         count(*) OVER (PARTITION BY doc_id) AS n_chunks
                  FROM c)
            SELECT doc_id::BIGINT AS doc_id,
                   string_agg(chunk, ' ' ORDER BY ci) AS text_dedup,
                   n_chunks::BIGINT AS n_chunks,
                   count(*)::BIGINT AS n_kept
            FROM k WHERE rn = 1 GROUP BY doc_id, n_chunks
        """,
        "doc_cluster_assign": f"""
            WITH RECURSIVE aug AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000, text || ' zz extra tail'
                FROM documents WHERE doc_id % 7 = 0
            ),
            f AS (
                SELECT doc_id, list_distinct({shingles5}) AS sh
                FROM (SELECT doc_id, {_TOKS} AS toks FROM aug)
            ),
            p AS (
                SELECT a.doc_id AS id_l, b.doc_id AS id_r
                FROM f a JOIN f b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
                      greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)
                      >= 0.7
            ),
            e AS (SELECT id_l AS u, id_r AS v FROM p
                  UNION ALL SELECT id_r, id_l FROM p),
            reach AS (
                SELECT doc_id AS id, doc_id AS root FROM aug
                UNION
                SELECT e.v AS id, r.root FROM reach r JOIN e ON e.u = r.id
                WHERE r.root < e.v
            )
            SELECT id::BIGINT AS doc_id, min(root)::BIGINT AS cluster_id
            FROM reach GROUP BY id
        """,
        "doc_fuzzy_survivors": f"""
            WITH aug AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000, text || ' zz extra tail token'
                FROM documents WHERE doc_id % 7 = 0
            ),
            g AS (
                SELECT doc_id,
                       array_to_string(list_slice(toks, 1, 5), ' ') AS block,
                       {grams3} AS grams
                FROM (SELECT doc_id, {_TOKS} AS toks FROM aug)
            ),
            p AS (
                SELECT b.doc_id AS id_r
                FROM g a JOIN g b ON a.block = b.block AND a.doc_id < b.doc_id
                WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                        greatest(len(list_distinct(
                            list_concat(a.grams, b.grams))), 1), 6) >= 0.3
            )
            SELECT doc_id::BIGINT AS doc_id FROM aug
            WHERE doc_id NOT IN (SELECT id_r FROM p)
        """,
        "semantic_prune": """
            WITH aug AS (
                SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 10000, embedding
                FROM embeddings WHERE vec_id % 10 = 0
            ),
            n AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                    x -> x*x))) AS nrm
                FROM aug
            ),
            p AS (
                SELECT b.vec_id AS id_r
                FROM n a JOIN n b ON a.vec_id < b.vec_id
                WHERE round(list_sum(list_transform(range(64),
                          i -> a.v[i+1] * b.v[i+1])) / (a.nrm * b.nrm), 6)
                      >= 0.99
            )
            SELECT vec_id::BIGINT AS vec_id FROM aug
            WHERE vec_id NOT IN (SELECT id_r FROM p)
        """,
        "doc_tfidf_topk": f"""
            WITH toks AS (
                SELECT doc_id, u.term
                FROM (SELECT doc_id, {_TOKS} AS t FROM documents),
                     unnest(t) AS u(term)
                WHERE u.term <> ''
            ),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                   FROM toks GROUP BY doc_id, term),
            dfq AS (SELECT term, count(*)::BIGINT AS dfreq FROM tf
                    GROUP BY term),
            n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.term,
                       round(tf.tf * ln((n.n_docs + 1)::DOUBLE /
                                        (dfq.dfreq + 1)), 6) AS score
                FROM tf JOIN dfq USING (term) CROSS JOIN n
            )
            SELECT doc_id::BIGINT AS doc_id, rnk::BIGINT AS rank, term, score
            FROM (SELECT doc_id, term, score,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY score DESC, term ASC)
                             AS rnk
                  FROM scored)
            WHERE rnk <= 3
        """,
        "clean_corpus": f"""
            WITH aug0 AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 300000, text FROM documents WHERE doc_id % 9 = 0
                UNION ALL
                SELECT doc_id + 400000,
                       array_to_string(string_split(text, ' ')[1:30], ' ')
                         || ' unique tail marker ' || doc_id::VARCHAR
                FROM documents WHERE doc_id % 11 = 0
            ),
            s AS (SELECT doc_id, text, {sw_counts} FROM aug0),
            -- stage 1: lang filter == lang_id CASE picking 'en'
            langed AS (
                SELECT doc_id, text FROM s
                WHERE NOT (c_en = 0 AND c_de = 0 AND c_fr = 0 AND c_es = 0)
                  AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es
            ),
            -- stage 2: quality floor (same micro-unit expr as
            -- quality_score)
            quality AS (
                SELECT doc_id, text FROM langed
                WHERE (
                    least(CASE WHEN trim(text) = '' THEN 0
                               ELSE len(string_split_regex(trim(text),
                                                           '\\s+'))
                          END::BIGINT * 10000, 500000)
                    + least(floor(len(list_filter({lo_toks},
                                t -> list_contains({_SW['en']}, t)))::BIGINT
                              * 1500000
                              / greatest(len({lo_toks}), 1))::BIGINT, 300000)
                    + 200000 - floor((length(text) -
                         length(regexp_replace(text, '[^\\w\\s]', '',
                                               'g')))::BIGINT
                         * 200000 / greatest(length(text), 1))::BIGINT
                ) >= 600000
            ),
            -- stage 3: exact doc dedup, keep-first by id
            exact AS (
                SELECT doc_id, text FROM (
                    SELECT doc_id, text,
                           row_number() OVER (PARTITION BY text
                                              ORDER BY doc_id) AS rn
                    FROM quality)
                WHERE rn = 1
            ),
            -- stage 4: span-level chunk dedup (doc_chunk_dedup shape)
            t AS (SELECT doc_id, {_TOKS} AS toks
                  FROM (SELECT doc_id, coalesce(text, '') AS text
                        FROM exact)),
            c AS (
                SELECT doc_id, i::BIGINT AS ci,
                       array_to_string(
                           toks[(i*10+1)::BIGINT:(i*10+10)::BIGINT], ' '
                       ) AS chunk
                FROM t, unnest(range(greatest((len(toks)+9)//10, 1))) AS u(i)
            ),
            k AS (SELECT doc_id, ci, chunk,
                         row_number() OVER (PARTITION BY chunk
                                            ORDER BY doc_id, ci) AS rn,
                         count(*) OVER (PARTITION BY doc_id) AS n_chunks
                  FROM c)
            SELECT doc_id::BIGINT AS doc_id,
                   string_agg(chunk, ' ' ORDER BY ci) AS text_dedup,
                   n_chunks::BIGINT AS n_chunks,
                   count(*)::BIGINT AS n_kept
            FROM k WHERE rn = 1 GROUP BY doc_id, n_chunks
        """,
        "corpus_split": """
            -- thresholds: floor(0.8*65536)=52428=0xcccc,
            --             floor(0.9*65536)=58982=0xe666
            SELECT doc_id,
                   CASE WHEN substr(md5('split-v1:' || doc_id::VARCHAR),
                                    1, 4) < 'cccc' THEN 'train'
                        WHEN substr(md5('split-v1:' || doc_id::VARCHAR),
                                    1, 4) < 'e666' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "pipeline_incremental": """
            WITH aug AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0
            ),
            k AS (
                SELECT lpad(doc_id::VARCHAR, 9, '0') AS image_id,
                       upper(md5(text || ', ' || length(text)::VARCHAR)) AS h,
                       doc_id
                FROM aug
            ),
            fresh AS (
                SELECT image_id, h FROM k
                WHERE h NOT IN (SELECT DISTINCT h FROM k WHERE doc_id % 2 = 0)
            )
            SELECT image_id,
                   min(image_id) OVER (PARTITION BY h) AS cluster_id
            FROM fresh
        """,
        "doc_minhash_lsh": f"""
            WITH aug AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000, text || ' zz extra tail'
                FROM documents WHERE doc_id % 7 = 0
            ),
            f AS (
                SELECT doc_id,
                       list_distinct({shingles5}) AS sh
                FROM (SELECT doc_id, {_TOKS} AS toks FROM aug)
            )
            SELECT a.doc_id::BIGINT AS id_l, b.doc_id::BIGINT AS id_r
            FROM f a JOIN f b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
                  greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)
                  >= 0.7
        """,
        "emb_lsh_ann": """
            WITH n AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                    x -> x*x))) AS nrm
                FROM embeddings
            ),
            q AS (
                SELECT vec_id + 10000 AS query_id, v, nrm FROM n
                WHERE vec_id % 10 = 0 AND vec_id < 200
            ),
            scored AS (
                SELECT q.query_id, c.vec_id AS neighbor_id,
                       list_sum(list_transform(range(64),
                           i -> q.v[i+1] * c.v[i+1])) / (q.nrm * c.nrm) AS cosine
                FROM q JOIN n c ON true
            )
            SELECT query_id::BIGINT AS query_id,
                   neighbor_id::BIGINT AS neighbor_id, rnk::BIGINT AS rank
            FROM (SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC,
                                                     neighbor_id ASC) rnk
                  FROM scored)
            WHERE rnk <= 1
        """,
        "image_dedup_clusters": """
            -- planted-truth golden: the synthetic corpus
            -- (deduper_spark/synth.py) plants one dup clique per block
            -- of 10 ids (roles 6..9 duplicate roles 0..3), so the
            -- expected clusters are a pure function of the index; the
            -- pipeline must reproduce them exactly (recall AND
            -- precision 1.0 — the north rule's >= 0.99 bar)
            WITH idx AS (SELECT unnest(range(300)) AS i),
            m AS (SELECT i, (i // 10) * 10 AS blk, i % 10 AS r FROM idx),
            c AS (SELECT i, CASE WHEN r = 6 THEN blk + 0
                                 WHEN r = 7 THEN blk + 1
                                 WHEN r = 8 THEN blk + 2
                                 WHEN r = 9 THEN blk + 3
                                 ELSE i END AS base
                  FROM m)
            SELECT 'img' || lpad(i::VARCHAR, 9, '0') AS image_id,
                   'img' || lpad(base::VARCHAR, 9, '0') AS cluster_id
            FROM c
        """,
        "doc_substring_sa": """
            WITH aug AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 300000,
                       'prefix words here ' || text || ' and trailing words'
                FROM documents WHERE doc_id % 9 = 0
            ),
            norm AS (SELECT doc_id, lower(text) AS t FROM aug),
            w AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           range(length(t) - 44),
                           i -> substr(t, i + 1, 45)))) AS win
                FROM norm WHERE length(t) >= 45
            )
            SELECT DISTINCT a.doc_id::BIGINT AS id_l, b.doc_id::BIGINT AS id_r
            FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id
        """,
        "doc_simhash": f"""
            WITH aug AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 200000,
                       array_to_string(list_sort({_TOKS}), ' ')
                FROM documents WHERE doc_id % 7 = 0
            ),
            k AS (
                SELECT doc_id,
                       array_to_string(list_sort({_TOKS}), ' ') AS key
                FROM aug
            )
            SELECT a.doc_id::BIGINT AS id_l, b.doc_id::BIGINT AS id_r
            FROM k a JOIN k b ON a.key = b.key AND a.doc_id < b.doc_id
        """,
        "image_features": """
            -- planted truth: every synth blob decodes to 64x64
            -- (deduper_spark/synth.py IMG=64, pure function of (seed,i));
            -- the 10 appended poison blobs fail decode with null dims
            SELECT 'img' || lpad(i::VARCHAR, 9, '0') AS id,
                   true AS decode_ok, 64::INTEGER AS w, 64::INTEGER AS h
            FROM (SELECT unnest(range(100)) AS i)
            UNION ALL
            SELECT 'bad' || lpad(i::VARCHAR, 9, '0') AS id,
                   false AS decode_ok, NULL::INTEGER AS w, NULL::INTEGER AS h
            FROM (SELECT unnest(range(10)) AS i)
        """,
        "audio_features": """
            -- planted truth: synth audio is a pure function of
            -- (seed,i); block-level params are index-derivable
            -- (deduper_spark/synth.py make_audio_row)
            SELECT 'aud' || lpad(i::VARCHAR, 9, '0') AS id,
                   true AS decode_ok,
                   (8000 + 4000 * ((i // 10) % 3))::INTEGER AS sr,
                   (1 + (i // 10) % 2)::INTEGER AS channels,
                   (8000 + 4000 * ((i // 10) % 3))::BIGINT AS n_samples
            FROM (SELECT unnest(range(60)) AS i)
            UNION ALL
            SELECT 'bad' || lpad(i::VARCHAR, 9, '0') AS id,
                   false AS decode_ok, NULL::INTEGER AS sr,
                   NULL::INTEGER AS channels, NULL::BIGINT AS n_samples
            FROM (SELECT unnest(range(5)) AS i)
        """,
        "audio_dedup": """
            -- planted truth: per block of 10, role 6 duplicates role 0
            -- and role 7 (gain re-master) duplicates role 1 — in both
            -- cases the base index is i-6 (synth._audio_base_index)
            SELECT 'aud' || lpad((i - 6)::VARCHAR, 9, '0') AS id_l,
                   'aud' || lpad(i::VARCHAR, 9, '0') AS id_r
            FROM (SELECT unnest(range(120)) AS i)
            WHERE i % 10 IN (6, 7)
        """,
        "video_dedup": """
            -- planted truth: per block of 10 clips, role 6 is a
            -- byte-exact dup of role 0 (synth._video_base_index);
            -- distinct clips use distinct random base images, so no
            -- other pair reaches the 80% frame-match threshold
            SELECT 'vid' || lpad((i - 6)::VARCHAR, 9, '0') AS id_l,
                   'vid' || lpad(i::VARCHAR, 9, '0') AS id_r
            FROM (SELECT unnest(range(40)) AS i)
            WHERE i % 10 = 6
        """,
        "video_shifted": """
            -- planted truth (synth.make_shifted_video_df): every
            -- i%5==2 clip has a trimmed copy 'vid9'+8digits (first 2
            -- frames cut, re-encoded q85) aligning at offset -2 with
            -- n_frames-2 frame votes; per block of 10, role 6 is a
            -- byte-exact dup of role 0 aligning at offset 0 with all
            -- n_frames = 6 + 2*(block%3) frames
            SELECT 'vid' || lpad(i::VARCHAR, 9, '0') AS id_l,
                   'vid9' || lpad(i::VARCHAR, 8, '0') AS id_r,
                   -2 AS frame_offset,
                   (6 + 2 * ((i // 10) % 3) - 2)::BIGINT
                       AS matched_frames
            FROM (SELECT unnest(range(20)) AS i)
            WHERE i % 5 = 2
            UNION ALL
            SELECT 'vid' || lpad((i - 6)::VARCHAR, 9, '0') AS id_l,
                   'vid' || lpad(i::VARCHAR, 9, '0') AS id_r,
                   0 AS frame_offset,
                   (6 + 2 * ((i // 10) % 3))::BIGINT AS matched_frames
            FROM (SELECT unnest(range(20)) AS i)
            WHERE i % 10 = 6
        """,
        "video_frames": """
            -- planted truth: n_frames = 6 + 2*(block%3) per clip
            -- (synth.video_frame_count), sampled every 3rd frame; the
            -- poisoned blob yields one decode_ok=false row
            SELECT 'vid' || lpad(i::VARCHAR, 9, '0') AS id,
                   f::INTEGER AS frame_idx, true AS decode_ok
            FROM (SELECT unnest(range(40)) AS i) a
            CROSS JOIN (SELECT unnest(range(0, 12, 3)) AS f) b
            WHERE f < 6 + 2 * ((i // 10) % 3)
            UNION ALL
            SELECT 'bad000000000' AS id, NULL::INTEGER AS frame_idx,
                   false AS decode_ok
        """,
        "ann_topk": """
            WITH n AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                    x -> x*x))) AS nrm
                FROM embeddings
            ),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_sum(list_transform(range(64),
                           i -> q.v[i+1] * c.v[i+1])) / (q.nrm * c.nrm) AS cosine
                FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id != q.vec_id
            )
            SELECT query_id::BIGINT AS query_id,
                   neighbor_id::BIGINT AS neighbor_id, rnk::BIGINT AS rank
            FROM (SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC,
                                                     neighbor_id ASC) rnk
                  FROM scored)
            WHERE rnk <= 3
        """,
        "event_rollup": """
            SELECT floor(epoch(date_trunc('hour', ts)))::BIGINT AS bucket_s,
                   event_type,
                   count(*)::BIGINT AS n_events,
                   round(sum(value) * 100)::BIGINT AS value_cents
            FROM events
            GROUP BY 1, 2
        """,
        "event_sessions": """
            WITH e AS (
                SELECT user_id, event_id, epoch_us(ts) AS ts_us
                FROM events
            ),
            l AS (
                SELECT user_id, event_id, ts_us,
                       lag(ts_us) OVER (PARTITION BY user_id
                                        ORDER BY ts_us, event_id) AS prev_us
                FROM e
            ),
            s AS (
                SELECT user_id, ts_us,
                       sum(CASE WHEN prev_us IS NULL
                                     OR ts_us - prev_us > 1800000000
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id
                                 ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx
                FROM l
            )
            SELECT user_id::BIGINT AS user_id, session_idx,
                   count(*)::BIGINT AS n_events,
                   min(ts_us // 1000000)::BIGINT AS start_s,
                   max(ts_us // 1000000)::BIGINT AS end_s,
                   (max(ts_us // 1000000) - min(ts_us // 1000000))::BIGINT
                       AS duration_s
            FROM s GROUP BY user_id, session_idx
        """,
        "event_debounce": """
            WITH l AS (
                SELECT event_id,
                       epoch_us(ts) - lag(epoch_us(ts))
                           OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS gap_us
                FROM events
            )
            SELECT event_id::BIGINT AS event_id FROM l
            WHERE gap_us IS NULL OR gap_us >= 14400000000
        """,
    }
