"""Unit tests for signature kernels: shingles, MinHash, SimHash, phash.
(An upgrade over the reference, which has only end-to-end goldens —
SURVEY.md §5.)"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from deduper_spark.functions.minhash import jaccard_estimate, minhash_kernel
from deduper_spark.functions.phash import (
    decode_image,
    encode_image,
    hamming64,
    phash64,
    psnr_db,
)
from deduper_spark.functions.simhash import simhash_kernel
from deduper_spark.functions.text import (
    shingle_hashes_expr,
    shingles_expr,
    tokens_expr,
)


# ------------------------------------------------------------- shingles

def test_shingles(spark):
    df = spark.createDataFrame([("The quick  Brown fox, jumps over!",)], ["caption"])
    out = df.select(
        shingles_expr(tokens_expr("caption"), 3).alias("sh")
    ).collect()[0]["sh"]
    assert out == [
        "the quick brown", "quick brown fox", "brown fox jumps",
        "fox jumps over",
    ]


def test_shingles_short_text(spark):
    df = spark.createDataFrame([("only two",)], ["caption"])
    out = df.select(
        shingles_expr(tokens_expr("caption"), 5).alias("sh")
    ).collect()[0]["sh"]
    assert out == ["only two"]


def test_shingle_hashes_distinct(spark):
    df = spark.createDataFrame([("a b a b a b",)], ["caption"])
    out = df.select(
        shingle_hashes_expr(shingles_expr(tokens_expr("caption"), 2)).alias("h")
    ).collect()[0]["h"]
    assert len(out) == len(set(out)) == 2  # "a b" and "b a" only


# -------------------------------------------------------------- minhash

def test_minhash_deterministic_and_jaccard():
    rng = np.random.default_rng(7)
    base = list(rng.integers(-(2**62), 2**62, size=100))
    # J=0.8: replace 12 of 100 (|A∩B|=88, |A∪B|=112 → 0.785)
    other = base[:88] + list(rng.integers(-(2**62), 2**62, size=12))
    s = pd.Series([base, other, base])
    sig = minhash_kernel(s, 256, seed=42)
    sig2 = minhash_kernel(s, 256, seed=42)
    assert all((np.array_equal(a, b)) for a, b in zip(sig, sig2))
    assert np.array_equal(sig[0], sig[2])  # identical sets, identical sigs
    est = jaccard_estimate(sig[0], sig[1])
    assert abs(est - 0.785) < 0.12  # 256 perms → se ≈ 0.026
    sig_other_seed = minhash_kernel(s, 256, seed=43)
    assert not np.array_equal(sig[0], sig_other_seed[0])


def test_minhash_empty_set():
    sig = minhash_kernel(pd.Series([[], [1, 2, 3]]), 16, seed=1)
    assert len(sig[0]) == 16  # sentinel, not crash


def test_minhash_matches_sort_reference():
    """The r6 scatter-min (np.minimum.at) OPH core must be bit-identical
    to the definitional per-bucket minimum computed by sorting."""
    from deduper_spark.functions.kernels import (
        _EMPTY,
        salts,
        splitmix64_inplace,
    )

    def reference(hash_lists, num_perm, seed):
        shift = np.uint64(64 - int(num_perm).bit_length() + 1)
        n = len(hash_lists)
        salt = salts(1, seed)[0]
        safe = [np.asarray(v, dtype=np.int64) if v is not None and len(v)
                else np.zeros(1, dtype=np.int64) for v in hash_lists]
        lens = np.array([len(v) for v in safe], dtype=np.int64)
        flat = np.concatenate(safe).astype(np.uint64)
        with np.errstate(over="ignore"):
            flat ^= salt
            splitmix64_inplace(flat)
            bucket = (flat >> shift).astype(np.int64)
            key = np.repeat(np.arange(n, dtype=np.int64), lens) \
                * num_perm + bucket
            order = np.lexsort((flat, key))
            k_sorted = key[order]
            first = np.ones(len(k_sorted), dtype=bool)
            first[1:] = k_sorted[1:] != k_sorted[:-1]
            sig = np.full(n * num_perm, _EMPTY, dtype=np.uint64)
            sig[k_sorted[first]] = flat[order][first]
            sig = sig.reshape(n, num_perm)
            s = 1
            while s < num_perm and (sig == _EMPTY).any():
                empty = sig == _EMPTY
                donor = np.roll(sig, s, axis=1)
                sig[empty] = donor[empty]
                s <<= 1
            sig[sig == _EMPTY] = np.uint64(0)
        return pd.Series(list(sig.astype(np.int64)))

    rng = np.random.default_rng(19)
    lists = pd.Series(
        [rng.integers(-(2**63), 2**63 - 1,
                      size=int(rng.integers(1, 120))).astype(np.int64)
         for _ in range(200)]
        + [[], None, [5], [5, 5, 5]]
    )
    for num_perm in (16, 128):
        got = minhash_kernel(lists, num_perm, seed=42)
        want = reference(lists, num_perm, seed=42)
        assert all(np.array_equal(a, b) for a, b in zip(want, got))


@pytest.mark.parametrize("num_perm", [0, -4, 12])
def test_minhash_rejects_bad_num_perm(num_perm):
    """num_perm must be a positive power of two: 0 used to pass the
    bit test (0 & -1 == 0) and fail later inside the kernel."""
    with pytest.raises(ValueError, match="power of two"):
        minhash_kernel(pd.Series([[1, 2, 3]]), num_perm, seed=1)


# --------------------------------------------------------------- winnow

def test_winnow_batch_group_budget_and_fresh_empties(monkeypatch):
    """A group is flushed before a text would cross max_group_chars,
    so only a lone over-budget text exceeds it; ineligible texts each
    get their own empty array."""
    from deduper_spark.functions import winnow

    seen = []
    real = winnow.gram_hashes

    def spy(codes, k):
        seen.append(len(codes))
        return real(codes, k)

    monkeypatch.setattr(winnow, "gram_hashes", spy)
    texts = ["a" * 60, "b" * 60, "short", "c" * 300, "d" * 50, "", "e" * 70]
    out = winnow.winnow_fingerprints_batch(texts, 45, max_group_chars=130)
    assert seen == [120, 300, 120]
    assert all(n <= 130 or n == 300 for n in seen)
    empties = [out[2], out[5]]
    assert all(e.size == 0 and e.dtype == np.int64 for e in empties)
    assert empties[0] is not empties[1]


# -------------------------------------------------------------- simhash

def test_simhash_properties():
    rng = np.random.default_rng(3)
    toks = list(rng.integers(-(2**62), 2**62, size=50))
    near = toks[:48] + list(rng.integers(-(2**62), 2**62, size=2))
    far = list(rng.integers(-(2**62), 2**62, size=50))
    s = simhash_kernel(pd.Series([toks, near, far, toks]))
    assert s[0] == s[3]
    d_near = hamming64(int(s[0]), int(s[1]))
    d_far = hamming64(int(s[0]), int(s[2]))
    assert d_near < d_far
    assert d_near <= 10


# ---------------------------------------------------------------- phash

def test_codec_roundtrip_and_psnr():
    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_image(px)), px)
    lossy = decode_image(encode_image(px, lossy=True))
    assert psnr_db(px, lossy) >= 40.0
    assert psnr_db(px, px) == float("inf")


def test_phash_invariance_and_separation():
    rng = np.random.default_rng(6)
    coarse = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    px = np.kron(coarse, np.ones((8, 8, 1), dtype=np.uint8))
    other = np.kron(
        rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8),
        np.ones((8, 8, 1), dtype=np.uint8),
    )
    h = phash64(px)
    h_lossy = phash64(decode_image(encode_image(px, lossy=True)))
    assert hamming64(h, h_lossy) <= 2
    assert hamming64(h, phash64(other)) > 10
    # int64 range (Spark LongType safe)
    assert -(2**63) <= h < 2**63


def test_decode_unknown_format_raises():
    # PNG and JPEG now decode NATIVELY; garbage after either signature
    # is a ValueError (the multimodal isolation path catches it)
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0xxxxxxxxxxxx")
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\nxxxxxxxxxxxx")
    # genuinely foreign magics (GIF/TIFF/WebP...) stay stubbed behind
    # the PIL try
    with pytest.raises(NotImplementedError):
        decode_image(b"GIF89axxxxxxxxxxxx")
