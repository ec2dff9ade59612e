"""Document-level deduplication family for training-data pipelines.

The same engine pieces (keys, shingles, MinHash/SimHash kernels, LSH,
verification) applied to a plain documents table
(doc_id, text, ...) — exact hash dedup, MinHash+LSH near-dup,
SimHash near-dup, blocked n-gram Jaccard, embedding-cosine near-dup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduper_spark.config import FuzzyConfig
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
from deduper_spark.operators.exact import ExactDedupResult, exact_dedup
from deduper_spark.operators.lsh import (
    array_band_buckets,
    block_pairs,
    bucket_groups,
    bucket_pair_rows,
    bucket_stars,
    candidate_pairs,
    hamming_candidate_pairs,
    int64_band_buckets,
)
from deduper_spark.operators.verify import verify_jaccard


def exact_doc_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> ExactDedupResult:
    """Exact dedup on md5(text), keep lowest id."""
    return exact_dedup(df, (text_col,), order_col=id_col)


def doc_features(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 cfg: FuzzyConfig | None = None) -> DataFrame:
    """(id, norm_text, shingle_hashes, simhash) per document."""
    cfg = cfg or FuzzyConfig()
    out = df.select(
        F.col(id_col).alias("id"),
        normalize_expr(F.coalesce(F.col(text_col), F.lit(""))).alias("norm_text"),
    ).withColumn("tokens", tokens_expr("norm_text"))
    out = out.withColumn(
        "shingle_hashes",
        shingle_hashes_expr(shingles_expr("tokens", cfg.shingle_k)),
    )
    out = out.withColumn("simhash", simhash_expr(token_hashes_expr("tokens")))
    return out.drop("tokens")


def _minhash_features(df: DataFrame, id_col: str, text_col: str,
                      cfg: FuzzyConfig) -> DataFrame:
    """(id, shingle_hashes, minhash_buckets), pinned with
    localCheckpoint: it feeds BOTH the banding side and the exact-Jaccard
    verification join, and without the pin the feature projection
    (tokenize + shingle + minhash Arrow work) executes twice end-to-end
    — the exact double-execution the flagship pipeline pins at
    pipeline.py fuzzy_ok (measured as the BENCH_r02 doc_minhash_lsh 2x
    regression)."""
    # r6 (guide §4.1/§2.3): banding is FUSED inside the minhash UDF
    # (minhash_buckets_expr, the flagship pipeline's path) so the Arrow
    # return payload is cfg.bands longs, not the num_perm-element
    # signature (8x at 128/16), and the checkpointed feature row drops
    # norm_text (dead downstream — banding reads the buckets, verify
    # reads the shingle sets). Identical verified output: banding only
    # gates CANDIDATES, and the exact-Jaccard verification is the
    # output contract (same S-curve, bands x rows unchanged).
    # tokens stays a bound column (NOT inlined into shingles_expr):
    # the shingle transform lambda references its token array several
    # times, and an inlined split/regex expression would re-evaluate
    # per window position — O(tokens^2) normalize work per doc
    # (measured 3x regression when inlined).
    return (
        df.select(
            F.col(id_col).alias("id"),
            tokens_expr(F.coalesce(F.col(text_col), F.lit(""))).alias("tokens"),
        )
        .withColumn(
            "shingle_hashes",
            shingle_hashes_expr(shingles_expr("tokens", cfg.shingle_k)),
        )
        .withColumn(
            "minhash_buckets",
            minhash_buckets_expr("shingle_hashes", cfg.num_perm,
                                 cfg.bands, cfg.minhash_seed),
        )
        .select("id", "shingle_hashes", "minhash_buckets")
        .localCheckpoint()
    )


def minhash_lsh_doc_pairs(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          cfg: FuzzyConfig | None = None) -> DataFrame:
    """(id_l, id_r, jaccard) — every verified near-dup doc pair: each
    candidate pair of the MinHash-LSH banding, exact-Jaccard checked."""
    cfg = cfg or FuzzyConfig()
    feats = _minhash_features(df, id_col, text_col, cfg)
    bb = array_band_buckets(feats, "id", "minhash_buckets", "minhash")
    pairs, _ = candidate_pairs(bb, cfg.max_bucket_size)
    return verify_jaccard(pairs, feats, "shingle_hashes",
                          cfg.jaccard_threshold).drop("families")


def simhash_doc_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      cfg: FuzzyConfig | None = None) -> DataFrame:
    """(id_l, id_r, hamming) — SimHash near-dup doc pairs.

    The fingerprint RIDES the bucket row and `bit_count(xor) <= t`
    evaluates inside the pair enumeration's codegen stage
    (lsh.hamming_candidate_pairs), so the 16-bit band flood (a 65,536-
    value bucket space at corpus scale — measured 26.7M junk candidate
    pairs at n=400k) dies before the pair-dedup shuffle. No features
    join at all: feats feeds only the banding projection."""
    cfg = cfg or FuzzyConfig()
    feats = doc_features(df, id_col, text_col, cfg)
    bb = int64_band_buckets(feats, "id", "simhash", cfg.phash_band_bits,
                            "simhash", cfg.simhash_hamming_threshold)
    pairs, _ = hamming_candidate_pairs(bb, cfg.max_bucket_size,
                                       with_distance=True)
    return pairs.select("id_l", "id_r", F.col("dist").alias("hamming"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        prefix_tokens: int = 5,
                        threshold: float = 0.5,
                        max_block_size: int = 2000,
                        max_task_rows: int = 512,
                        ) -> tuple[DataFrame, DataFrame]:
    """Blocked exact n-gram Jaccard (SQL-expressible — the DuckDB
    oracle recomputes it): block on the first ``prefix_tokens`` tokens,
    then exact token-k-gram Jaccard within each block.

    Pairing is lsh.block_pairs with key ``block``: the prefix block is
    the only chance a pair gets (no other band catches it), so every
    in-block pair is compared exactly once, with per-task work bounded
    by ``max_task_rows``; blocks over ``max_block_size`` are stop-
    patterns, dropped and returned. The rounded Jaccard is the pair
    predicate, evaluated inside the enumeration.

    Returns (pairs(id_l < id_r, jaccard), dropped(block, bucket_size)).
    """
    # pinned (r6): feats feeds the sizing agg and the join back — the
    # normalize+shingle expression tree otherwise executes twice. Lazy
    # checkpoint, materialized by the sizing aggregation.
    feats = (
        df.select(F.col(id_col).alias("id"), normalize_expr(text_col).alias("t"))
        .withColumn("toks", F.split("t", " "))
        .withColumn("block", F.array_join(F.slice("toks", 1, prefix_tokens), " "))
        .withColumn("grams", F.array_distinct(shingles_expr("toks", k)))
        .select("id", "block", "grams")
        .localCheckpoint(eager=False)
    )

    def jaccard(lm, rm):
        inter = F.size(F.array_intersect(lm["grams"], rm["grams"]))
        union = F.size(F.array_union(lm["grams"], rm["grams"]))
        return [F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard")]

    pairs, dropped = block_pairs(
        feats, ["block"], max_block_size, max_task_rows,
        members=("grams",), fields=jaccard,
        keep=lambda p: p["jaccard"] >= threshold,
    )
    return pairs.select("id_l", "id_r", "jaccard"), dropped


def minhash_doc_clusters(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         cfg: FuzzyConfig | None = None) -> DataFrame:
    """(doc_id, cluster_id) — near-dup cluster assignment for EVERY doc.

    The clusters are the connected components (cc.py) of the verified
    MinHash-LSH pair set — every candidate pair of minhash_lsh_doc_pairs
    whose exact Jaccard passes; singletons label themselves.
    cluster_id = min doc id of the component — the same min-id survivor
    contract as the flagship pipeline, now exposed at document level
    (the image side ships it as image_dedup_clusters).

    A component depends only on connectivity, so most candidate pairs
    need no verification: a dup family shares many buckets, and any
    spanning set of its verified pairs builds the same component.
    Verification runs per cluster, in two rounds over one pinned
    bucket grouping:

    1. Only each admitted (sub-)bucket's star — its min id to every
       other member — is exact-verified, and CC labels the result.
    2. Only the candidate pairs whose two ends still carry different
       round-1 labels are verified.

    A final CC over the round-1 star forest plus the round-2 edges, with
    every doc as a node, gives the clusters. This is exact: a candidate
    pair that would verify either joins two ends that verified round-1
    edges already connect, or is itself verified in round 2; and every
    edge used is a verified candidate pair. So the components equal
    those of the full verified pair set, while a boilerplate family of
    s docs costs about s verifications instead of s(s-1)/2.

    The DuckDB oracle recomputes the closure with a recursive CTE over
    the exact-Jaccard pair set, so this is the driver query that checks
    the CC operator against an independent transitive-closure
    implementation rather than planted truth.
    """
    cfg = cfg or FuzzyConfig()
    feats = _minhash_features(df, id_col, text_col, cfg)
    bb = array_band_buckets(feats, "id", "minhash_buckets", "minhash")
    # pinned: both rounds read the grouping
    groups = bucket_groups(bb, cfg.max_bucket_size)[0] \
        .localCheckpoint(eager=False)

    def verified(pairs: DataFrame) -> DataFrame:
        return verify_jaccard(pairs, feats, "shingle_hashes",
                              cfg.jaccard_threshold).select("id_l", "id_r")

    stars = verified(bucket_stars(groups).distinct())
    first = connected_components(stars, edges_distinct=True)
    label_l = first.select(F.col("id").alias("id_l"),
                           F.col("cluster_id").alias("c_l"))
    label_r = first.select(F.col("id").alias("id_r"),
                           F.col("cluster_id").alias("c_r"))
    open_pairs = (
        bucket_pair_rows(groups)
        .join(label_l, "id_l", "left")
        .join(label_r, "id_r", "left")
        .where(F.coalesce("c_l", "id_l") != F.coalesce("c_r", "id_r"))
        .select("id_l", "id_r")
        .distinct()
    )
    forest = first.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("id_l"), F.col("cluster_id").alias("id_r"))
    comp = connected_components(
        # disjoint: forest edges join ends of one round-1 label,
        # open pairs ends of two
        forest.unionByName(verified(open_pairs)),
        nodes=df.select(F.col(id_col).alias("id")),
        edges_distinct=True,
    )
    return comp.select(F.col("id").alias(id_col),
                       F.col("cluster_id").alias("cluster_id"))


def lsh_tables_for_recall(threshold: float, n_planes: int,
                          probe_radius: int,
                          target_miss: float = 0.01,
                          max_tables: int = 16) -> int:
    """How many independent hyperplane tables a pair at EXACTLY
    ``threshold`` cosine needs to be blocked together with miss
    probability <= ``target_miss``.

    Each plane splits a boundary pair with p = acos(threshold)/pi;
    one table catches it iff <= probe_radius of its n_planes bits
    differ (the multiprobe masks), q = P(Binom(n_planes, p) <=
    probe_radius); L tables miss with (1-q)^L. E.g. threshold 0.99 ->
    p~0.045, q~0.84, L=3; threshold 0.95 -> p~0.101, q~0.51, L=7.
    Pairs ABOVE the threshold do strictly better. Capped at
    ``max_tables`` — beyond that the threshold is too loose for
    hyperplane LSH and the cap is reported by the docstring contract,
    not silently exceeded."""
    import math

    p = math.acos(max(min(threshold, 1.0), -1.0)) / math.pi
    q = sum(
        math.comb(n_planes, j) * p**j * (1 - p) ** (n_planes - j)
        for j in range(min(probe_radius, n_planes) + 1)
    )
    if q >= 1.0 - 1e-12:
        return 1
    return max(1, min(math.ceil(math.log(target_miss) / math.log(1.0 - q)),
                      max_tables))


def embedding_cosine_pairs(df: DataFrame, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           threshold: float = 0.95,
                           n_planes: int = 16,
                           probe_radius: int = 1,
                           n_tables: int | None = None,
                           target_miss: float = 0.01,
                           seed: int = 42) -> DataFrame:
    """Embedding-cosine near-dup pairs.

    Blocker: ``n_tables`` independent hyperplane-LSH tables (sign
    random projection, operators/ann.py), each probed within
    Hamming <= probe_radius (multiprobe). One table alone is NOT
    near-exhaustive away from threshold ~1.0 — at threshold 0.95 a
    boundary pair splits each of 16 planes with p~0.10, so a single
    radius-1 table misses ~49% of boundary pairs. OR-amplification
    fixes that: with ``n_tables=None`` the table count is derived from
    the threshold (lsh_tables_for_recall) so a pair AT the threshold is
    missed with probability <= ``target_miss`` (1% default); pairs
    above the threshold do strictly better.

    Bucket size stays bounded (2^-n_planes of the corpus per table in
    expectation); candidate generation is ids-only (the explode factor
    n_tables*(1+n_planes) rides 16 B rows, never vectors); dot products
    via zip_with+aggregate — JVM-side, no Python in the pair join.
    """
    from deduper_spark.operators.ann import (
        hyperplane_signatures_udf,
        probe_masks,
    )

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        "norm",
        F.sqrt(F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0),
                           lambda acc, x: acc + x)),
    )
    dot = F.aggregate(
        F.zip_with("v_l", "v_r", lambda a, b: a * b), F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if n_tables is None:
        n_tables = lsh_tables_for_recall(threshold, n_planes,
                                         probe_radius, target_miss)
    # dim inferred lazily inside the UDF (ann.py, r6): the former
    # limit(1).collect() dim probe was a blocking driver job per
    # call, and the empty-input special case it served is covered
    # by the normal (empty) pair flow
    sigs = hyperplane_signatures_udf(None, n_planes, n_tables, seed)
    # candidate generation on IDS ONLY (16 B/row through the bucket
    # join + pair dedupe); the 8 B x dim vectors join back by id
    # AFTER dedupe — never shuffled per-probe or per-duplicate-pair
    ids = base.withColumn("sigs", sigs("v")).select("id", "sigs")
    masks = F.array(*[F.lit(m) for m in probe_masks(n_planes, probe_radius)])
    left = (
        ids.select(
            F.col("id").alias("id_l"),
            F.posexplode("sigs").alias("table", "sig"),
        )
        .select(
            "id_l", "table",
            F.explode(
                F.transform(masks, lambda m: F.col("sig").bitwiseXOR(m))
            ).alias("block"),
        )
    )
    right = ids.select(
        F.col("id").alias("id_r"),
        F.posexplode("sigs").alias("table", "block"),
    )
    cand = (
        left.join(right, ["table", "block"])
        .where(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r")
        .dropDuplicates(["id_l", "id_r"])
    )
    pairs = cand.join(
        base.select(F.col("id").alias("id_l"), F.col("v").alias("v_l"),
                    F.col("norm").alias("n_l")), "id_l"
    ).join(
        base.select(F.col("id").alias("id_r"), F.col("v").alias("v_r"),
                    F.col("norm").alias("n_r")), "id_r"
    )
    return (
        pairs
        .withColumn("cosine", F.round(dot / (F.col("n_l") * F.col("n_r")), 6))
        .where(F.col("cosine") >= threshold)
        .select("id_l", "id_r", "cosine")
    )
