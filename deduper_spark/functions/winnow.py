"""Winnowing fingerprint kernel — DELIBERATELY pyspark-free.

Winnowing (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for
Document Fingerprinting", SIGMOD 2003 — the MOSS algorithm) gives the
GUARANTEE this engine's exact-substring pass is built on:

    with character k-grams and a selection window of
    W = min_len - k + 1 consecutive k-gram hashes, any two texts
    sharing a substring of length >= min_len share at least one
    selected fingerprint VALUE.

Proof sketch: a shared substring of length min_len contains W
consecutive k-grams, identical in both texts; winnowing selects the
minimum hash of EVERY window of W consecutive k-grams, in particular
of that shared window — and the minimum of identical windows is the
same value on both sides.

So fingerprint-bucket candidate generation has recall 1.0 by
construction (unlike MinHash banding, whose recall is probabilistic):
the distributed pass over fingerprints is exact, shard-free, and emits
~2/(W+1) of positions per doc (density bound from the paper).

Everything here is numpy over uint64 with wraparound arithmetic,
vectorized per text (no per-character Python loops).
"""

from __future__ import annotations

import numpy as np

from deduper_spark.functions.kernels import splitmix64_inplace

_B = np.uint64(0x100000001B3)  # FNV-ish odd multiplier for the rolling poly
# B is odd, hence invertible mod 2^64 — the prefix-poly trick below needs it
_BINV = np.uint64(pow(0x100000001B3, -1, 1 << 64))


def _codes(text: str) -> np.ndarray:
    return np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        np.uint64
    )


def _gram_hashes_seg(codes: np.ndarray, k: int) -> np.ndarray:
    """All k-gram hashes of one segment, O(1) work per position.

    h[p] = sum_j codes[p+j] * B^(k-1-j)
         = B^(p+k-1) * (T[p+k] - T[p]),   T[m] = sum_{j<m} codes[j]*B^(-j)

    — five O(n) vector passes (cumprod, cumsum, two mults, a diff)
    instead of the former k-wide windowed dot product (k mult-adds per
    position). Exact mod-2^64 wraparound arithmetic throughout, so the
    values are BIT-IDENTICAL to the windowed form (uint64 +/* are
    associative mod 2^64 and B is invertible); pinned by
    test_gram_hashes_matches_windowed_reference.
    """
    n = len(codes)
    m = n - k + 1
    with np.errstate(over="ignore"):
        powinv = np.empty(n, dtype=np.uint64)
        powinv[0] = np.uint64(1)
        if n > 1:
            np.cumprod(np.full(n - 1, _BINV, dtype=np.uint64),
                       out=powinv[1:])
        pref = np.empty(n + 1, dtype=np.uint64)
        pref[0] = np.uint64(0)
        np.cumsum(codes * powinv, out=pref[1:])
        bk = np.uint64(1)
        for _ in range(k - 1):
            bk = bk * _B
        powmul = np.empty(m, dtype=np.uint64)
        powmul[0] = bk
        if m > 1:
            np.cumprod(np.full(m - 1, _B, dtype=np.uint64), out=powmul[1:])
            powmul[1:] = powmul[1:] * bk
        out = powmul * (pref[k:] - pref[:-k])
        splitmix64_inplace(out)
    return out


def gram_hashes(codes: np.ndarray, k: int, chunk: int = 1 << 20) -> np.ndarray:
    """Polynomial hash of every k-gram (splitmix-finalized), vectorized.

    Computed by the O(1)-per-position prefix-poly form in bounded
    segments (each segment's hashes depend only on its own chars, so
    chunking = slicing with k-1 chars of overlap) — peak scratch stays
    ~5*chunk*8 bytes regardless of text length.
    """
    n = len(codes)
    if n < k:
        return np.empty(0, dtype=np.uint64)
    m = n - k + 1
    if m <= chunk:
        return _gram_hashes_seg(codes, k)
    out = np.empty(m, dtype=np.uint64)
    for lo in range(0, m, chunk):
        hi = min(lo + chunk, m)
        out[lo:hi] = _gram_hashes_seg(codes[lo: hi + k - 1], k)
    return out


def winnow_fingerprints(text: str, min_len: int, k: int = 32) -> np.ndarray:
    """Distinct winnowed fingerprint values of ``text`` (int64 view).

    Selection: minimum hash VALUE in every window of W = min_len-k+1
    consecutive k-gram hashes (value selection is all the guarantee
    needs — positions are irrelevant to a bucket join). Texts shorter
    than min_len fingerprint to nothing: they cannot share a
    >= min_len substring with anything.

    k trades density against candidate precision: candidates must share
    a full k-char gram, so k close to min_len (default 32 for
    min_len=45) keeps stock phrases from flooding buckets — k=16 made
    every shared 16-char phrase a candidate bucket (measured 10x
    verification blowup on templated corpora) — at the price of
    density 2/(W+1) rising from ~6% to ~13% of positions.
    """
    w = min_len - k + 1
    if w < 1:
        raise ValueError(f"k ({k}) must be <= min_len ({min_len})")
    codes = _codes(text)
    if len(codes) < min_len:
        return np.empty(0, dtype=np.int64)
    gh = gram_hashes(codes, k)
    mins = np.lib.stride_tricks.sliding_window_view(gh, w).min(axis=1)
    return np.unique(mins).view(np.int64)


def winnow_fingerprints_batch(
    texts: "list[str]", min_len: int, k: int = 32,
    max_group_chars: int = 1 << 21,
) -> "list[np.ndarray]":
    """``winnow_fingerprints`` for a whole Arrow batch at batch cost.

    Eligible texts (len >= min_len) are concatenated into char-budgeted
    groups and the gram-hash + sliding-min passes run ONCE per group;
    each doc's results are slices of the group arrays. Values are
    IDENTICAL to the per-doc function: a k-gram hash depends only on
    its own k chars, and doc i's grams occupy group positions
    [cs, cs + len_i - k] (never touching a neighbor), so slicing the
    group's hash/min arrays at doc boundaries reproduces the per-doc
    arrays exactly — windows that straddle two docs are computed but
    discarded. Cuts the ~100 us/doc fixed numpy overhead (encode,
    power setup, window views) to one slice + unique per doc; pinned
    by test_winnow_batch_matches_per_doc.

    ``max_group_chars`` bounds group scratch (~6 arrays * chars * 8 B):
    a group is flushed before a text would take it over the budget, so
    only a single text larger than the budget exceeds it, alone in its
    own group (gram_hashes chunks it internally). Every ineligible text
    gets its own empty array, so callers may mutate any result.
    """
    w = min_len - k + 1
    if w < 1:
        raise ValueError(f"k ({k}) must be <= min_len ({min_len})")
    out: "list[np.ndarray]" = [None] * len(texts)
    group: "list[int]" = []
    chars = 0

    def flush() -> None:
        nonlocal group, chars
        if not group:
            return
        joined = "".join(texts[i] for i in group)
        gh = gram_hashes(_codes(joined), k)
        mins = np.lib.stride_tricks.sliding_window_view(gh, w).min(axis=1)
        cs = 0
        for i in group:
            n = len(texts[i])
            out[i] = np.unique(mins[cs: cs + n - min_len + 1]).view(np.int64)
            cs += n
        group, chars = [], 0

    for i, t in enumerate(texts):
        if len(t) < min_len:
            out[i] = np.empty(0, dtype=np.int64)
            continue
        if chars + len(t) > max_group_chars:
            flush()
        group.append(i)
        chars += len(t)
    flush()
    return out


def batch_shares_substring(
    pairs_a: "list[str]", pairs_b: "list[str]", min_len: int
) -> "list[bool]":
    """Exact predicate for a BATCH of pairs: does each (a, b) share any
    substring of length >= min_len?

    Window-hash set intersection (vectorized), then every hash hit is
    CONFIRMED against the literal character windows, so a 64-bit
    collision can never produce a false positive. Per-text hash arrays
    are cached across the batch — candidate generation pairs hot texts
    many times, and re-hashing the same text per pair dominated the
    verification stage before this cache.
    """
    cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def arrays(t: str) -> tuple[np.ndarray, np.ndarray]:
        got = cache.get(t)
        if got is None:
            raw = (gram_hashes(_codes(t), min_len) if len(t) >= min_len
                   else np.empty(0, dtype=np.uint64))
            got = cache[t] = (raw, np.unique(raw))
        return got

    out = []
    for a, b in zip(pairs_a, pairs_b):
        ra, ua = arrays(a)
        rb, ub = arrays(b)
        common = np.intersect1d(ua, ub, assume_unique=True)
        if len(common) == 0:
            out.append(False)
            continue
        # confirm literally at the (few) hash-hit positions
        wa = {a[i: i + min_len] for i in np.flatnonzero(np.isin(ra, common))}
        wb = {b[i: i + min_len] for i in np.flatnonzero(np.isin(rb, common))}
        out.append(bool(wa & wb))
    return out


def shares_substring(a: str, b: str, min_len: int) -> bool:
    """Exact: do a and b share any substring of length >= min_len?"""
    return batch_shares_substring([a], [b], min_len)[0]
