"""NumPy signature kernels — DELIBERATELY pyspark-free.

These are the functions that pandas-UDF closures reference, so every
Python worker imports THIS module. Keeping pyspark out of the import
graph matters: 32 workers concurrently importing pyspark.sql on first
use cost ~45 s of wall clock (measured) before a single batch ran.
Only numpy/pandas here (both already loaded by the worker runtime).

Algorithms:
  * minhash_kernel — one-permutation hashing (Li/Owen/Zhang) with
    cyclic log-doubling densification (Shrivastava-style): O(m + k)
    per row; identical sets → identical signatures.
  * simhash_kernel — bit-vote SimHash via unpackbits + segment sums.
See minhash.py / simhash.py for the Spark-facing wrappers and the full
design rationale (incl. why affine (a*h+b) mod p was rejected).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_EMPTY = np.uint64(0xFFFFFFFFFFFFFFFF)
_BITS = np.arange(64, dtype=np.uint64)


def salts(num_perm: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << 64, size=num_perm, dtype=np.uint64)


def splitmix64_inplace(x: np.ndarray) -> np.ndarray:
    """public-domain splitmix64 finalizer, in place (one scratch buffer)."""
    tmp = np.empty_like(x)
    x += np.uint64(0x9E3779B97F4A7C15)
    np.right_shift(x, np.uint64(30), out=tmp)
    x ^= tmp
    x *= np.uint64(0xBF58476D1CE4E5B9)
    np.right_shift(x, np.uint64(27), out=tmp)
    x ^= tmp
    x *= np.uint64(0x94D049BB133111EB)
    np.right_shift(x, np.uint64(31), out=tmp)
    x ^= tmp
    return x


def _safe_lists(hash_lists: pd.Series) -> list[np.ndarray]:
    # null/empty sets get one sentinel element so the signature exists
    # (null captions tolerated — reference DeduperTest.kt:353-392)
    return [
        np.asarray(v, dtype=np.int64) if v is not None and len(v)
        else np.zeros(1, dtype=np.int64)
        for v in hash_lists
    ]


def _check_num_perm(num_perm: int) -> None:
    if num_perm <= 0 or num_perm & (num_perm - 1):
        raise ValueError(
            "num_perm must be a positive power of two (OPH bucketing)")


def _minhash_matrix(hash_lists: pd.Series, num_perm: int,
                    seed: int) -> np.ndarray:
    """OPH signatures as one (n, num_perm) uint64 matrix — the shared
    core of minhash_kernel and minhash_bucket_kernel (r6: the banding
    kernel previously round-tripped the matrix through a per-row list
    Series and re-stacked it; per-bucket minima are a scatter
    np.minimum.at instead of a lexsort — ~2x on the kernel, values
    identical since both are the same per-key min reduction)."""
    _check_num_perm(num_perm)
    shift = np.uint64(64 - int(num_perm).bit_length() + 1)
    n = len(hash_lists)
    salt = salts(1, seed)[0]
    safe = _safe_lists(hash_lists)
    lens = np.array([len(v) for v in safe], dtype=np.int64)
    flat = np.concatenate(safe).astype(np.uint64)
    with np.errstate(over="ignore"):
        flat ^= salt
        splitmix64_inplace(flat)
        bucket = (flat >> shift).astype(np.int64)          # [0, num_perm)
        row = np.repeat(np.arange(n, dtype=np.int64), lens)
        key = row * num_perm + bucket
        sig = np.full(n * num_perm, _EMPTY, dtype=np.uint64)
        np.minimum.at(sig, key, flat)                      # min per bucket
        sig = sig.reshape(n, num_perm)
        # densification: empty buckets borrow cyclically (log-doubling) —
        # deterministic function of the set
        s = 1
        while s < num_perm and (sig == _EMPTY).any():
            empty = sig == _EMPTY
            donor = np.roll(sig, s, axis=1)
            sig[empty] = donor[empty]
            s <<= 1
        sig[sig == _EMPTY] = np.uint64(0)
    return sig


def minhash_kernel(hash_lists: pd.Series, num_perm: int, seed: int) -> pd.Series:
    _check_num_perm(num_perm)
    n = len(hash_lists)
    if n == 0:
        return pd.Series([], dtype=object)
    sig = _minhash_matrix(hash_lists, num_perm, seed)
    return pd.Series(list(sig.astype(np.int64)))


def simhash_kernel(hash_lists: pd.Series,
                   chunk_tokens: int = 1 << 16) -> pd.Series:
    """0/1 bit matrix via unpackbits (uint8), segment sums, threshold
    2*ones > m — identical to the classic ±1 sign vote.

    Processed in bounded chunks of ~chunk_tokens hashes: the naive
    whole-batch unpack + astype(int32) allocated ~1.3 GB of transient
    per 10k-row Arrow batch, and 32 concurrent workers doing that
    saturated memory bandwidth (measured: simhash was 15x the minhash
    kernel's cost). Chunking keeps the working set cache-sized; int16
    sums suffice for docs under 32k tokens (int32 fallback above).
    """
    n = len(hash_lists)
    if n == 0:
        return pd.Series([], dtype="int64")
    safe = _safe_lists(hash_lists)
    lens = np.array([len(v) for v in safe], dtype=np.int64)
    flat = np.concatenate(safe).astype("<u8")
    packed = np.empty(n, dtype=np.uint64)
    doc0 = 0
    off = 0
    while doc0 < n:
        doc1 = doc0 + 1
        tok = int(lens[doc0])
        while doc1 < n and tok + lens[doc1] <= chunk_tokens:
            tok += int(lens[doc1])
            doc1 += 1
        seg_lens = lens[doc0:doc1]
        ones = np.unpackbits(
            flat[off:off + tok].view(np.uint8).reshape(-1, 8),
            axis=1, bitorder="little",
        )
        rel = np.zeros(doc1 - doc0, dtype=np.int64)
        np.cumsum(seg_lens[:-1], out=rel[1:])
        acc_t = np.int16 if seg_lens.max() < (1 << 15) else np.int32
        sums = np.add.reduceat(ones.astype(acc_t), rel, axis=0)
        bits = ((2 * sums.astype(np.int64)) > seg_lens[:, None]).astype(
            np.uint64
        )
        packed[doc0:doc1] = (bits << _BITS[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        doc0 = doc1
        off += tok
    return pd.Series(packed.astype(np.int64))


def minhash_bucket_kernel(hash_lists: pd.Series, num_perm: int,
                          bands: int, seed: int) -> pd.Series:
    """OPH minhash signature FUSED with LSH banding: returns ``bands``
    int64 bucket hashes per row instead of the num_perm-element
    signature. The signature is a kernel-internal intermediate — the
    Arrow return payload drops from num_perm x 8 B (1 KB at 128 perms)
    to bands x 8 B (128 B at 16 bands), which matters because the
    features stage is memory-bandwidth-bound at high thread counts
    (measured: per-stream bandwidth drops ~3x from 8 to 32 concurrent
    workers, so every byte through Arrow costs triple at local[32]).
    Bucket = iterated splitmix64 over the band's signature slice —
    deterministic, full-width mixing; identical sets → identical
    buckets (the LSH contract)."""
    _check_num_perm(num_perm)
    n = len(hash_lists)
    if n == 0:
        return pd.Series([], dtype=object)
    rpb = num_perm // bands
    m = _minhash_matrix(hash_lists, num_perm, seed).reshape(n, bands, rpb)
    with np.errstate(over="ignore"):
        acc = np.arange(bands, dtype=np.uint64)[None, :] + np.uint64(1)
        acc = np.broadcast_to(acc, (n, bands)).copy()
        for j in range(rpb):
            acc ^= m[:, :, j]
            # splitmix64 over the (n, bands) accumulator
            acc = splitmix64_inplace(acc.copy())
    return pd.Series(list(acc.astype(np.int64)))


def jaccard_estimate(sig_a, sig_b) -> float:
    return float(np.mean(np.asarray(sig_a) == np.asarray(sig_b)))
