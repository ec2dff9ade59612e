"""Operator tests: LSH banding, candidate pairs, skew caps, connected
components, substring containment."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from deduper_spark.operators.cc import connected_components
from deduper_spark.operators.lsh import (
    SALT_CAP,
    block_pairs,
    candidate_pairs,
    int64_band_buckets,
    union_pairs,
)
from deduper_spark.operators.suffix import containment_pairs


def test_candidate_pairs_and_hot_bucket_cap(spark):
    # 3 ids share a bucket; SALT_CAP + 1 ids share a stop-pattern
    # bucket, which is dropped from pairing and reported
    rows = [("a", 0, 1, "f"), ("b", 0, 1, "f"), ("c", 0, 1, "f")]
    small = spark.createDataFrame(rows, ["id", "band", "bucket", "family"])
    hot = spark.range(SALT_CAP + 1).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("id"),
        F.lit(1).cast("long").alias("band"), F.lit(2).cast("long").alias("bucket"),
        F.lit("f").alias("family"))
    pairs, dropped = candidate_pairs(small.unionByName(hot), max_bucket_size=4)
    got = {(r["id_l"], r["id_r"]) for r in pairs.collect()}
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}
    d = dropped.collect()
    assert len(d) == 1 and d[0]["bucket_size"] == SALT_CAP + 1


def _hamming_pred():
    return (
        ("val", "max_ham"),
        lambda lm, rm: [
            F.bit_count(lm["val"].bitwiseXOR(rm["val"])).alias("dist"),
            lm["max_ham"].alias("max_ham"),
        ],
        lambda p: p["dist"] <= p["max_ham"],
        lambda a, b: bin((a["val"] ^ b["val"]) & (2**64 - 1)).count("1") <= 30,
    )


def _jaccard_pred():
    def jac(lm, rm):
        inter = F.size(F.array_intersect(lm["grams"], rm["grams"]))
        union = F.size(F.array_union(lm["grams"], rm["grams"]))
        return [F.round(inter / F.greatest(union, F.lit(1)), 6).alias("j")]

    def ref(a, b):
        ga, gb = set(a["grams"]), set(b["grams"])
        return len(ga & gb) / max(len(ga | gb), 1) >= 0.3

    return ("grams",), jac, lambda p: p["j"] >= 0.3, ref


@pytest.mark.parametrize("pred", ["hamming", "jaccard", "always"])
def test_block_pairs_split_equals_unsplit_and_brute_force(spark, pred):
    """The exact pair kernel: a hot group split into n_sub = 4 triangle
    sub-groups (40 members, max_cell 10) yields the same pairs as the
    unsplit run and as brute force, each pair once per shared group with
    id_l < id_r; a group of cap + 1 members is dropped and reported."""
    members, fields, keep, ref = {
        "hamming": _hamming_pred,
        "jaccard": _jaccard_pred,
        "always": lambda: ((), lambda lm, rm: [], None, lambda a, b: True),
    }[pred]()
    cap = 45
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(8)]

    def row(g, i):
        return {"g": g, "id": f"r{i:03d}",
                "val": rng.getrandbits(64) - 2**63, "max_ham": 30,
                "grams": rng.sample(vocab, rng.randint(1, 5))}

    rows = [row("hot", i) for i in range(40)]           # split, n_sub 4
    rows += [row("cold", i) for i in range(3)]          # ids shared with hot
    rows += [row("one", 0)]                             # singleton: no pairs
    rows += [row("stop", i) for i in range(cap + 1)]    # over the cap
    df = spark.createDataFrame(
        rows, "g string, id string, val long, max_ham int, grams array<string>")

    def run(max_cell):
        pairs, dropped = block_pairs(df, ["g"], cap, max_cell,
                                     members, fields, keep)
        got = [(r["g"], r["id_l"], r["id_r"]) for r in pairs.collect()]
        return got, {(r["g"], r["bucket_size"]) for r in dropped.collect()}

    split, dropped = run(10)
    whole, _ = run(10**6)
    by_group: dict = {}
    for r in rows:
        by_group.setdefault(r["g"], []).append(r)
    truth = {
        (g, a["id"], b["id"])
        for g, ms in by_group.items() if 2 <= len(ms) <= cap
        for i, a in enumerate(ms) for b in ms[i + 1:]
        if ref(a, b)
    }
    assert len(split) == len(set(split))                # each pair once
    assert all(l < r for _, l, r in split)
    assert set(split) == set(whole) == truth
    assert any(g == "hot" for g, _, _ in truth)
    assert dropped == {("stop", cap + 1)}


def test_int64_band_buckets_pigeonhole(spark):
    # hamming distance 3 with 4 bands of 16 bits → at least 1 shared band
    a = 0x0123456789ABCDEF
    b = a ^ (1 << 0) ^ (1 << 17) ^ (1 << 34)  # 3 bits in 3 different bands
    df = spark.createDataFrame([("a", a), ("b", b)], ["id", "ph"])
    bb = int64_band_buckets(df, "id", "ph", band_bits=16, family="ph")
    pairs, _ = candidate_pairs(bb, max_bucket_size=10)
    assert {(r["id_l"], r["id_r"]) for r in pairs.collect()} == {("a", "b")}


def test_union_pairs_merges_families(spark):
    p1 = spark.createDataFrame([("a", "b", ["mh"])], ["id_l", "id_r", "families"])
    p2 = spark.createDataFrame([("a", "b", ["ph"])], ["id_l", "id_r", "families"])
    u = union_pairs(p1, p2).collect()
    assert len(u) == 1
    assert set(u[0]["families"]) == {"mh", "ph"}


def test_connected_components_chain_and_singleton(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["id_l", "id_r"]
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("x",), ("y",), ("z",)], ["id"])
    cc = {r["id"]: r["cluster_id"]
          for r in connected_components(edges, nodes).collect()}
    assert cc == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "z"}


def test_connected_components_long_chain(spark):
    n = 12
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n)], ["id_l", "id_r"]
    )
    cc = connected_components(edges).collect()
    assert {r["cluster_id"] for r in cc} == {"n00"}
    assert len(cc) == n + 1


def test_containment_pairs(spark):
    feats = spark.createDataFrame(
        [
            ("a", "quick brown fox jumps high"),
            ("b", "the very quick brown fox jumps high over fences"),
            ("c", "unrelated caption entirely different"),
        ],
        ["id", "norm_caption"],
    )
    from deduper_spark.functions.text import shingle_hashes_expr, shingles_expr
    feats = feats.withColumn(
        "shingle_hashes",
        shingle_hashes_expr(shingles_expr(F.split("norm_caption", " "), 3)),
    )
    got = containment_pairs(feats).collect()
    assert len(got) == 1
    assert (got[0]["id_l"], got[0]["id_r"]) == ("a", "b")
    assert got[0]["families"] == ["substring"]


def test_int64_band_buckets_fullwidth_at_hamming_zero(spark):
    """max_hamming=0 (r6): one full-width band — bucket IS the
    fingerprint — and hamming_candidate_pairs emits exactly the
    equal-fingerprint pairs the 16-bit banding found (identical pair
    set, no 2^band_bits flood)."""
    from deduper_spark.operators.lsh import hamming_candidate_pairs

    vals = [0x0123456789ABCDEF, 0x0123456789ABCDEF,   # dup pair
            0x0123456789ABCDEE,                       # hamming 1 — out
            0x7777777777777777, 0x7777777777777777,   # dup pair
            0x0000000000000000]
    df = spark.createDataFrame(
        [(f"r{i}", v) for i, v in enumerate(vals)], ["id", "fp"])

    bb0 = int64_band_buckets(df, "id", "fp", band_bits=16, family="f",
                             max_hamming=0)
    # one bucket row per input row; bucket == the fingerprint value
    rows = bb0.collect()
    assert len(rows) == len(vals)
    assert all(r["bucket"] == r["val"] for r in rows)
    p0, _ = hamming_candidate_pairs(bb0)
    got0 = {(r["id_l"], r["id_r"]) for r in p0.collect()}

    # reference: the sliced banding at threshold 0 (pre-r6 shape) —
    # emulated by banding at 16 bits with max_hamming forced to 0
    bb16 = int64_band_buckets(df, "id", "fp", band_bits=16, family="f",
                              max_hamming=1).withColumn(
        "max_ham", F.lit(0))
    p16, _ = hamming_candidate_pairs(bb16)
    got16 = {(r["id_l"], r["id_r"]) for r in p16.collect()}

    assert got0 == got16 == {("r0", "r1"), ("r3", "r4")}


def test_verify_jaccard_matches_set_jaccard(spark):
    """verify_jaccard's value is |A ∩ B| / max(|A ∪ B|, 1) on the
    distinct-valued arrays shingle_hashes_expr emits, empty arrays
    included, and the threshold keeps exactly the pairs at or above it."""
    import random

    from deduper_spark.operators.verify import verify_jaccard

    rng = random.Random(7)
    sets = [[], []] + [rng.sample(range(40), rng.randint(0, 12))
                       for _ in range(60)]
    feats = spark.createDataFrame(
        [(f"d{i}", s) for i, s in enumerate(sets)],
        "id string, sh array<long>")
    pairs = spark.createDataFrame(
        [(f"d{i}", f"d{j}", ["minhash"])
         for i in range(len(sets)) for j in range(i + 1, len(sets))
         if i < 2 or rng.random() < 0.3],
        "id_l string, id_r string, families array<string>")
    want = {}
    for r in pairs.collect():
        a, b = set(sets[int(r["id_l"][1:])]), set(sets[int(r["id_r"][1:])])
        want[(r["id_l"], r["id_r"])] = len(a & b) / max(len(a | b), 1)
    got = {(r["id_l"], r["id_r"]): r["jaccard"]
           for r in verify_jaccard(pairs, feats, "sh", 0.0).collect()}
    assert got[("d0", "d1")] == 0.0  # both empty
    assert got == want
    kept = {(r["id_l"], r["id_r"])
            for r in verify_jaccard(pairs, feats, "sh", 0.25).collect()}
    assert kept == {k for k, j in want.items() if j >= 0.25}
