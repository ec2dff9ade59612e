"""LSH banding and the hot-group handling shared by every blocker.

Generalizes the blocking role of the reference's exact hash-bucket
lookup (seenHashes keyed membership, Deduper.kt:207) to buckets: rows
sharing a key — an LSH (family, band, bucket), an n-gram prefix block,
a winnow fingerprint, a containment anchor — become candidate pairs,
and verification (verify.py, or the caller's own predicate) confirms
or rejects them.

Scale design (the part that has to survive 100 TB):
  * banding is a single projection + posexplode — no shuffle;
  * ONE ADMISSION STEP (_admit) sizes every group: groups of 2..cap
    members are admitted, tagged ``bucket_size``; larger groups are
    stop-patterns (boilerplate shingles, constant captions, license
    headers), dropped from pairing and returned as key + bucket_size,
    never silently eaten. A group of s members is s(s-1)/2 pairs, so a
    hot group would dominate the job AND pin one task;
  * an admitted group larger than the per-task size is split by one of
    two policies:
      - SALTED (bucket_groups: MinHash). A hot bucket is hashed into
        ceil(s/max) sub-buckets, and a pair split across two of them is
        lost. That is acceptable because a true MinHash pair shares
        many bands, so a colder band still catches it;
      - EXACT (block_pairs: Hamming LSH, n-gram blocks, winnow
        fingerprints). A pair may share ONE key only — a Hamming pair
        at n_bands-1 shares exactly one band (pigeonhole), a prefix
        block or a fingerprint may be a pair's only match — so every
        in-group pair must be compared exactly once. Members get a
        sub-group u = pmod(xxhash64(id), n_sub) and are replicated
        into the triangle cells {(min(u,k), max(u,k)) : k < n_sub};
        cell (a, a) pairs sub-group a with itself, cell (a, b) pairs
        a x b. The comparison count is unchanged; per-task work is
        bounded by ~max_cell²;
  * pairs come from GROUPING, not self-joining: one hash Exchange per
    blocker, with the pairs enumerated inside codegen (_upper_pairs);
    a caller that needs only connectivity reads a spanning star per
    group instead (bucket_stars);
  * pair de-dup across bands/families is a groupBy on (id_l, id_r) —
    again hash-partitioned, no global structure.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Buckets with more members than this are stop-patterns (boilerplate
# shingles, constant captions), not duplicate families: they are
# dropped from pairing and reported.
SALT_CAP = 20_000

BAND_KEY = ["family", "band", "bucket"]


def _admit(rows: DataFrame, key: list[str],
           cap: int) -> tuple[DataFrame, DataFrame]:
    """Size each ``key`` group: returns the rows of the groups with
    2..cap members, tagged with ``bucket_size``, and the (key...,
    bucket_size) rows of the dropped ones (more than ``cap``)."""
    sizes = rows.groupBy(*key).agg(F.count("*").alias("bucket_size"))
    admitted = sizes.where(
        (F.col("bucket_size") > 1) & (F.col("bucket_size") <= cap)
    )
    dropped = sizes.where(F.col("bucket_size") > cap)
    # NB not broadcast: `admitted` has one row per distinct group —
    # billions at corpus scale. Equi-join on the key co-shuffles with
    # the pairing groupBy; AQE broadcasts it when it is in fact small.
    return rows.join(admitted, key), dropped


def _upper_pairs(ms: str, pair: Callable[[Column, Column], Column]) -> Column:
    """pair(x, y) for every position pair i < j of the array ``ms`` —
    each unordered pair of its elements exactly once, enumerated with a
    nested array transform inside codegen."""
    n = F.size(ms)
    return F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + F.lit(2), n - i - F.lit(1)),
                lambda y: pair(x, y),
            ),
        )
    )


def block_pairs(
    rows: DataFrame,
    key: list[str],
    cap: int,
    max_cell: int,
    members: tuple[str, ...] = (),
    fields: Callable[[Column, Column], list[Column]] = lambda lm, rm: [],
    keep: Callable[[Column], Column] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Every pair of rows sharing a ``key`` group, exactly once — the
    EXACT hot-group policy of the module docstring.

    rows: key columns, ``id`` and the ``members`` columns the pair
    expressions read. Groups are admitted by _admit(rows, key, cap); an
    admitted group of s members is split into n_sub = ceil(s /
    max_cell) sub-groups and their triangle cells, and one groupBy on
    key + (bu, bv) collects each cell — at most ~2 x max_cell members.
    Inside the enumeration, diagonal cells (bu == bv) pair positions
    i < j and cross cells pair the u == bu members against the u == bv
    ones (disjoint sets), so each pair meets once. Cold groups take the
    same path with n_sub = 1: one (0, 0) cell, no row multiplication.

    ``fields(lm, rm)`` adds named columns computed from the two member
    structs (id + members); ``keep(p)`` filters on the pair struct
    (id_l, id_r, fields...) before it leaves the cell, so false
    candidates die before any downstream shuffle. A row never pairs
    with a row of the same id.

    Returns (pairs(key..., id_l < id_r, fields...), dropped(key...,
    bucket_size)). A pair sharing several groups appears once per group.
    """
    b, dropped = _admit(rows, key, cap)
    n_sub = F.ceil(F.col("bucket_size") / F.lit(max_cell)).cast("int")
    b = (
        b.withColumn("n_sub", n_sub)
        .withColumn("u", F.pmod(F.xxhash64("id"),
                                F.col("n_sub")).cast("int"))
        .drop("bucket_size")
    )
    cells = F.transform(
        F.sequence(F.lit(0), F.col("n_sub") - 1),
        lambda k: F.struct(
            F.least(F.col("u"), k).alias("bu"),
            F.greatest(F.col("u"), k).alias("bv"),
        ),
    )
    cols = [*key, "id", *members, "u"]
    b = b.select(*cols, F.explode(cells).alias("cell")) \
         .select(*cols, "cell.bu", "cell.bv")
    grp = b.groupBy(*key, "bu", "bv").agg(
        F.collect_list(F.struct("id", *members, "u")).alias("ms"))

    def pair(lm: Column, rm: Column) -> Column:
        return F.struct(
            F.least(lm["id"], rm["id"]).alias("id_l"),
            F.greatest(lm["id"], rm["id"]).alias("id_r"),
            *fields(lm, rm),
        )

    lefts = F.filter("ms", lambda m: m["u"] == F.col("bu"))
    rights = F.filter("ms", lambda m: m["u"] == F.col("bv"))
    cross = F.flatten(
        F.transform(lefts, lambda lm: F.transform(rights,
                                                  lambda rm: pair(lm, rm)))
    )
    def ok(p: Column) -> Column:
        distinct = p["id_l"] < p["id_r"]
        return distinct & keep(p) if keep else distinct

    arr = F.filter(
        F.when(F.col("bu") == F.col("bv"), _upper_pairs("ms", pair))
        .otherwise(cross),
        ok,
    )
    pairs = grp.select(*key, F.explode(arr).alias("p")).select(*key, "p.*")
    return pairs, dropped


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
    the pair enumeration — see its docstring for why that matters at
    scale."""
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
    exact predicate evaluated INLINE in the pair enumeration.

    Why this exists: 16-bit band buckets flood at corpus scale (a
    65,536-value bucket space holds n >> 2^16 rows — measured 33M
    candidate pairs at n=400k, 26.7M from simhash alone). Shipping
    every such pair to a features join (2 x shingle arrays ≈ 400 B per
    pair) made verification the dominant shuffle. Here the bucket row
    carries the 8-byte fingerprint + threshold, so
    `bit_count(val_l ^ val_r) <= max_ham` runs inside block_pairs'
    codegen stage and false candidates die BEFORE the pair-dedup
    shuffle — the downstream groupBy sees ~confirmed pairs only.

    buckets: (family, band, bucket, id, val, max_ham). Hot buckets are
    split exactly (block_pairs), so the pigeonhole recall guarantee (a
    pair at Hamming n_bands-1 shares exactly ONE band) survives them;
    buckets beyond ``SALT_CAP`` are stop-patterns, dropped + metered.

    Returns (pairs(id_l, id_r, families), dropped_buckets);
    ``with_distance`` adds the pair's Hamming distance (min across
    families — for a single-family input it IS the distance).
    """
    cand, dropped = block_pairs(
        buckets, BAND_KEY, SALT_CAP, max_bucket_size,
        members=("val", "max_ham"),
        fields=lambda lm, rm: [
            F.bit_count(lm["val"].bitwiseXOR(rm["val"])).alias("dist"),
            lm["max_ham"].alias("max_ham"),
        ],
        keep=lambda p: p["dist"] <= p["max_ham"],
    )
    aggs = [F.collect_set("family").alias("families")]
    if with_distance:
        aggs.append(F.min("dist").alias("dist"))
    pairs = cand.groupBy("id_l", "id_r").agg(*aggs)
    return pairs, dropped


def bucket_groups(
    buckets: DataFrame,
    max_bucket_size: int = 200,
) -> tuple[DataFrame, DataFrame]:
    """The grouping half of candidate_pairs: (family, band, bucket,
    salt, ids) — one row per admitted (sub-)bucket, holding its member
    ids — and the dropped-bucket metrics.

    The SALTED hot-group policy of the module docstring (SURVEY.md §7
    hard part (d); north rule "salted repartitioning"): a bucket with
    size > max_bucket_size is salted into ceil(s/max) sub-buckets via
    xxhash64(id), so its quadratic cost drops to ~s*max/2 and spreads
    across the cluster; the recall tests assert the loss is negligible.
    """
    b, dropped = _admit(buckets, BAND_KEY, SALT_CAP)
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
    pairs (_upper_pairs), oriented by least/greatest."""
    pair_structs = _upper_pairs(
        "ids",
        lambda x, y: F.struct(F.least(x, y).alias("id_l"),
                              F.greatest(x, y).alias("id_r")),
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
    """Pair each (family, band, bucket) group → (id_l < id_r) pairs:
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
