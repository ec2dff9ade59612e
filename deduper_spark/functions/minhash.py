"""Batched MinHash signatures — vectorized Arrow pandas UDF.

Sketch generalization of the reference's exact MD5 key
(Deduper.kt:201): instead of one hash over the whole key string, a
k-bucket min-wise signature over the shingle-hash SET, so
Pr[sig_i(A)==sig_i(B)] ~= Jaccard(A, B).

Kernel (functions/kernels.py — pyspark-free so workers import cheaply):

  * inputs are 64-bit shingle hashes computed JVM-side (xxhash64),
    re-mixed with a seeded splitmix64 (full-width mixing bijection —
    a plain affine (a*h+b) mod p over narrow inputs stays piecewise-
    monotonic and biases the Jaccard estimate high, measured +0.13 at
    J=0.79, so it is deliberately NOT used);

  * the signature is ONE-PERMUTATION HASHING with cyclic densification
    (public algorithms: Li/Owen/Zhang OPH; Shrivastava densification):
    each element hashed once, routed to bucket = top log2(k) bits,
    min-reduced per bucket, empty buckets borrow cyclically. O(m + k)
    per row vs the k-independent-permutations O(m*k) — the naive
    matrix kernel moved ~220 KB/row and collapsed to 23% per-worker
    efficiency under 32 concurrent workers (measured); OPH holds ~83%.

  * identical sets → identical signatures; the empirical quality gate
    is the pipeline recall/precision >= 0.99 golden test.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from deduper_spark.functions.kernels import (  # noqa: F401 (re-export)
    jaccard_estimate,
    minhash_kernel,
)


def minhash_buckets_udf(num_perm: int = 128, bands: int = 16,
                        seed: int = 42):
    """Fused signature + banding (kernels.minhash_bucket_kernel): the
    UDF returns the per-band bucket hashes directly — 8x less Arrow
    return payload than shipping the signature out for JVM banding."""
    # the inner fn must reference ONLY the pyspark-free kernels module:
    # referencing anything from THIS module would make every worker
    # import pyspark.sql (measured ~45 s across 32 cold workers)
    from deduper_spark.functions import kernels

    def _buckets(hashes):
        return kernels.minhash_bucket_kernel(hashes, num_perm, bands, seed)

    return F.pandas_udf(_buckets, ArrayType(LongType()))


def minhash_buckets_expr(shingle_hashes: str | Column,
                         num_perm: int = 128, bands: int = 16,
                         seed: int = 42) -> Column:
    c = F.col(shingle_hashes) if isinstance(shingle_hashes, str) else shingle_hashes
    return minhash_buckets_udf(num_perm, bands, seed)(c)
