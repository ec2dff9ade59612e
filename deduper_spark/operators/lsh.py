"""LSH banding + candidate-pair generation with explicit skew control.

Generalizes the blocking role of the reference's exact hash-bucket
lookup (seenHashes keyed membership, Deduper.kt:207) to locality-
sensitive buckets: rows sharing any (band, bucket) become candidate
pairs; verification (verify.py) then confirms or rejects.

Scale design (the part that has to survive 100 TB):
  * banding is a single projection + posexplode — no shuffle;
  * pairs come from grouping each (family, band, bucket): one hash
    Exchange (bucket_groups), with the i<j pairs enumerated inside
    codegen (bucket_pair_rows). A caller that needs only connectivity
    reads a spanning star per group instead (bucket_stars) — from the
    same grouping, so one pinned grouping serves both;
  * HOT BUCKETS (stop-shingle bands, constant captions) are the skew
    killer: a bucket of size s yields s(s-1)/2 pairs. Buckets larger
    than max_bucket_size are salted into sub-buckets of about that
    size; buckets larger than SALT_CAP are stop-patterns, dropped from
    pairing and reported rather than silently eaten.
  * pair de-dup across bands/families is a groupBy on (id_l, id_r) —
    again hash-partitioned, no global structure.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Buckets with more members than this are stop-patterns (boilerplate
# shingles, constant captions), not duplicate families: they are
# dropped from pairing and reported.
SALT_CAP = 20_000


def _admit(buckets: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Size each (family, band, bucket) group: returns the rows of the
    buckets with 2..SALT_CAP members, tagged with ``bucket_size``, and
    the (family, band, bucket, bucket_size) rows of the dropped ones."""
    key = ["family", "band", "bucket"]
    sizes = buckets.groupBy(*key).agg(F.count("*").alias("bucket_size"))
    admitted = sizes.where(
        (F.col("bucket_size") > 1) & (F.col("bucket_size") <= SALT_CAP)
    )
    dropped = sizes.where(F.col("bucket_size") > SALT_CAP)
    # NB not broadcast: `admitted` has one row per distinct bucket —
    # billions at corpus scale. Equi-join on the bucket key co-shuffles
    # with the pairing groupBy; AQE broadcasts it when it is in fact small.
    return buckets.join(admitted.select(*key, "bucket_size"), key), dropped


def array_band_buckets(df: DataFrame, id_col: str, buckets_col: str,
                       family: str) -> DataFrame:
    """(id, band, bucket) from a precomputed per-band bucket array
    (minhash_buckets_expr) — posexplode, zero shuffle."""
    return (
        df.select(F.col(id_col).alias("id"),
                  F.posexplode(buckets_col).alias("band", "bucket"))
        .withColumn("family", F.lit(family))
    )


def int64_band_buckets(
    df: DataFrame, id_col: str, bits_col: str, band_bits: int,
    family: str | Column,
    max_hamming: int | None = None,
) -> DataFrame:
    """Band a 64-bit fingerprint (phash / simhash) into 64/band_bits
    equal bit-slices. Pigeonhole: pairs within Hamming distance
    (64/band_bits - 1) are GUARANTEED to share a band; beyond that the
    catch is probabilistic (documented trade-off: finer bands raise
    recall but shrink bucket selectivity).

    With ``max_hamming`` set, the bucket row also CARRIES the full
    fingerprint and its verification threshold (16 extra bytes), which
    lets hamming_candidate_pairs evaluate the exact predicate inline in
    the self-join — see its docstring for why that matters at scale."""
    fam0 = family if isinstance(family, Column) else F.lit(family)
    if max_hamming == 0:
        # Exact-fingerprint candidates (r6, guide §2.5 "skew — hot
        # keys"): a pair at Hamming 0 has EQUAL fingerprints, so one
        # full-width band — bucket := the value itself — catches it
        # with recall 1.0 by definition, and bucket size equals the
        # true dup-family size. Fixed-width sub-bands (4 x 16 bits)
        # would flood here: the 2^16-value band space saturates once
        # the corpus outgrows it and in-bucket comparisons grow
        # quadratically (measured 27 s vs 2.5 s on doc_simhash at a
        # 50k-doc corpus). Pair set is identical: the inline
        # bit_count(xor) <= 0 predicate admits exactly the equal-value
        # pairs under either banding.
        return df.select(
            F.col(id_col).alias("id"),
            F.col(bits_col).alias("val"),
            fam0.alias("family"),
            F.lit(0).alias("band"),
            F.col(bits_col).alias("bucket"),
        ).withColumn("max_ham", F.lit(0))
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    # static band count → unrolled expressions (stays in codegen; the
    # shift amount must be a literal for shiftrightunsigned)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.shiftrightunsigned(F.col(bits_col), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    # family may be a per-row Column (e.g. "vf:<frame_idx>" for
    # per-frame video matching, where the frame position must be part
    # of the bucket join key) — a plain string stays a literal
    fam = family if isinstance(family, Column) else F.lit(family)
    out = (
        df.select(F.col(id_col).alias("id"),
                  F.col(bits_col).alias("val"),
                  fam.alias("family"),
                  F.explode(band_structs).alias("bb"))
        .select("id", "val", "family", F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"))
    )
    if max_hamming is None:
        return out.drop("val")
    return out.withColumn("max_ham", F.lit(max_hamming))


def hamming_candidate_pairs(
    buckets: DataFrame,
    max_bucket_size: int = 200,
    with_distance: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """candidate_pairs for Hamming families (simhash/phash), with the
    exact predicate evaluated INLINE in the co-located self-join.

    Why this exists: 16-bit band buckets flood at corpus scale (a
    65,536-value bucket space holds n >> 2^16 rows — measured 33M
    candidate pairs at n=400k, 26.7M from simhash alone). Shipping
    every such pair to a features join (2 x shingle arrays ≈ 400 B per
    pair) made verification the dominant shuffle. Here the bucket row
    carries the 8-byte fingerprint + threshold, so
    `bit_count(val_l ^ val_r) <= max_ham` runs inside the join's
    codegen stage and false candidates die BEFORE the pair-dedup
    shuffle — the downstream groupBy sees ~confirmed pairs only.

    buckets: (family, band, bucket, id, val, max_ham). Sizing and
    hot-bucket accounting are identical to candidate_pairs, but a hot
    bucket is split by a TRIANGLE-BLOCK decomposition, not scalar
    salting: its members get a sub-bucket index u =
    pmod(xxhash64(id), n_sub), and each row is replicated into the
    n_sub blocks {(min(u,k), max(u,k)) : k < n_sub}; block (a, a)
    pairs sub-bucket a with itself, block (a, b) with a < b pairs
    sub-buckets a x b. EVERY intra-bucket pair lands in exactly one
    block, so the
    pigeonhole recall guarantee (a pair at Hamming n_bands-1 shares
    exactly ONE band) survives hot buckets — scalar salting could
    split that pair's single shared bucket and silently lose it. Cost:
    the total comparison count is unchanged (it is the price of the
    guarantee), but per-task work is bounded by ~max_bucket_size² and
    the s²/2 comparisons of an s-member bucket spread across
    n_sub(n_sub+1)/2 tasks instead of pinning one. Buckets beyond
    ``SALT_CAP`` are stop-patterns and are still dropped + metered.

    Returns (pairs(id_l, id_r, families), dropped_buckets);
    ``with_distance`` adds the pair's Hamming distance (min across
    families — for a single-family input it IS the distance).
    """
    key = ["family", "band", "bucket"]
    b, dropped = _admit(buckets)
    # Cold buckets (the overwhelming majority) take this path too:
    # n_sub=1, u=0, a single (0,0) block — no row multiplication,
    # and the grouping distribution on key+(bu,bv) equals the
    # unsalted key distribution, so the only cost is per-row
    # expression work (xxhash64 + one-element explode) inside the
    # same codegen stage. A hot/cold split was considered and
    # declined: it doubles the plan for a constant-factor win the
    # benches don't show.
    n_sub = F.ceil(F.col("bucket_size") / F.lit(max_bucket_size)) \
        .cast("int")
    b = (
        b.withColumn("n_sub", n_sub)
        .withColumn("u", F.pmod(F.xxhash64("id"),
                                F.col("n_sub")).cast("int"))
        .drop("bucket_size")
    )
    blocks = F.transform(
        F.sequence(F.lit(0), F.col("n_sub") - 1),
        lambda k: F.struct(
            F.least(F.col("u"), k).alias("bu"),
            F.greatest(F.col("u"), k).alias("bv"),
        ),
    )
    b = b.select(*key, "id", "val", "max_ham", "u",
                 F.explode(blocks).alias("blk")) \
         .select(*key, "id", "val", "max_ham", "u",
                 F.col("blk.bu").alias("bu"), F.col("blk.bv").alias("bv"))
    jkey = key + ["bu", "bv"]

    # Pair generation by GROUPING (r6, guide §2.4), mirroring
    # candidate_pairs: each triangle cell collects its members —
    # bounded by ~2x max_bucket_size by construction — and enumerates
    # its pairs with nested array transforms INSIDE codegen, the exact
    # Hamming predicate applied in the same expression. One hash
    # Exchange (the groupBy) replaces the former self-join's two, the
    # cell rows are evaluated once instead of once per join side, and
    # false candidates still die before the pair-dedup shuffle.
    # Diagonal cells (bu==bv) pair positions i<j — each unordered pair
    # exactly once; cross cells pair the u==bu members against the
    # u==bv members — disjoint sets, each pair once, orientation
    # canonicalized by least/greatest exactly as the join did.
    grp = b.groupBy(*jkey).agg(
        F.collect_list(F.struct("id", "val", "u")).alias("ms"),
        F.max("max_ham").alias("mh"),
    )

    def _pair(lm, rm):
        return F.struct(
            F.least(lm["id"], rm["id"]).alias("id_l"),
            F.greatest(lm["id"], rm["id"]).alias("id_r"),
            F.bit_count(lm["val"].bitwiseXOR(rm["val"])).alias("dist"),
        )

    n = F.size("ms")
    diag = F.flatten(
        F.transform(
            "ms",
            lambda x, i: F.transform(
                F.slice("ms", i + F.lit(2), n - i - F.lit(1)),
                lambda y: _pair(x, y),
            ),
        )
    )
    lefts = F.filter("ms", lambda m: m["u"] == F.col("bu"))
    rights = F.filter("ms", lambda m: m["u"] == F.col("bv"))
    cross = F.flatten(
        F.transform(lefts, lambda lm: F.transform(rights,
                                                  lambda rm: _pair(lm, rm)))
    )
    arr = F.filter(
        F.when(F.col("bu") == F.col("bv"), diag).otherwise(cross),
        lambda p: p["dist"] <= F.col("mh"),
    )
    joined = (
        grp.select("family", F.explode(arr).alias("p"))
        .select("p.id_l", "p.id_r", "family", "p.dist")
    )
    aggs = [F.collect_set("family").alias("families")]
    if with_distance:
        aggs.append(F.min("dist").alias("dist"))
    pairs = joined.groupBy("id_l", "id_r").agg(*aggs)
    return pairs, dropped


def bucket_groups(
    buckets: DataFrame,
    max_bucket_size: int = 200,
) -> tuple[DataFrame, DataFrame]:
    """The grouping half of candidate_pairs: (family, band, bucket,
    salt, ids) — one row per admitted (sub-)bucket, holding its member
    ids — and the dropped-bucket metrics.

    Skew defusal (SURVEY.md §7 hard part (d); north rule "salted
    repartitioning"): a bucket of size s yields s(s-1)/2 pairs, so hot
    buckets (stop shingles, constant captions) would dominate the job
    AND pin one task. A bucket with size > max_bucket_size is salted
    into ceil(s/max) sub-buckets via xxhash64(id) — quadratic cost
    drops to ~s*max/2, the work spreads across the cluster, and pairing
    inside each sub-bucket is preserved (true dups in a hot bucket
    nearly always share other, colder buckets too, so pair recall loss
    is negligible — asserted by the recall tests). Buckets beyond
    ``SALT_CAP`` are stop-patterns and are dropped outright.
    """
    b, dropped = _admit(buckets)
    n_sub = F.ceil(F.col("bucket_size") / F.lit(max_bucket_size))
    b = b.withColumn(
        "salt", F.pmod(F.xxhash64("id"), n_sub).cast("int")
    ).drop("bucket_size")
    key = ["family", "band", "bucket", "salt"]
    # Pair generation by GROUPING, not self-joining (r6, guide §2.4):
    # collect each (sub-)bucket's member ids — bounded by the caps, so
    # the array is at most a few hundred elements. One hash Exchange
    # (the groupBy) replaces the former self-join's two exchanges, and
    # the bucket rows are evaluated once instead of once per join side.
    return b.groupBy(*key).agg(F.collect_list("id").alias("ids")), dropped


def bucket_pair_rows(groups: DataFrame) -> DataFrame:
    """(id_l < id_r, family) for every pair inside each group of
    bucket_groups, once per group that holds it: the i<j position
    pairs, enumerated with a nested array transform inside codegen.
    Position pairs i<j enumerate each unordered pair exactly once;
    least/greatest orients it (the former join's id_l < id_r filter
    did the same)."""
    n = F.size("ids")
    pair_structs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + F.lit(2), n - i - F.lit(1)),
                lambda y: F.struct(F.least(x, y).alias("id_l"),
                                   F.greatest(x, y).alias("id_r")),
            ),
        )
    )
    return (
        groups.select("family", F.explode(pair_structs).alias("p"))
        .select("p.id_l", "p.id_r", "family")
    )


def bucket_stars(groups: DataFrame) -> DataFrame:
    """(id_l, id_r) from each group's min id to every other member —
    a spanning star of the group's candidate clique, |group| - 1 pairs
    instead of |group|(|group|-1)/2. Not de-duplicated: a family that
    shares several bands repeats its star once per band."""
    m = F.array_min("ids")
    return groups.select(
        m.alias("id_l"), F.explode(F.array_remove("ids", m)).alias("id_r"))


def candidate_pairs(
    buckets: DataFrame,
    max_bucket_size: int = 200,
) -> tuple[DataFrame, DataFrame]:
    """Self-join each (family, band, bucket) group → (id_l < id_r) pairs:
    bucket_groups, then bucket_pair_rows, de-duplicated across bands.

    Returns (pairs(id_l, id_r, families), dropped_buckets_metrics) —
    dropped buckets are reported, never silently eaten.
    """
    groups, dropped = bucket_groups(buckets, max_bucket_size)
    pairs = (
        bucket_pair_rows(groups)
        .groupBy("id_l", "id_r")
        .agg(F.collect_set("family").alias("families"))
    )
    return pairs, dropped


def union_pairs(*pair_dfs: DataFrame) -> DataFrame:
    """Union candidate pairs across signature families, de-duplicated."""
    out = None
    for p in pair_dfs:
        p2 = p.select("id_l", "id_r", "families")
        out = p2 if out is None else out.unionByName(p2)
    assert out is not None
    return (
        out.select("id_l", "id_r", F.explode("families").alias("family"))
        .groupBy("id_l", "id_r")
        .agg(F.collect_set("family").alias("families"))
    )
