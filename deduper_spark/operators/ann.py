"""Approximate-nearest-neighbor search over an embedding column.

Two strategies (SURVEY.md §2 training-data additions):
  * brute-force cosine top-k — the exactness baseline. Queries are a
    small set broadcast against the corpus (a broadcast-nested-loop
    by construction, scanning the corpus ONCE regardless of k);
  * hyperplane-LSH bucketed top-k — the scale path: sign-random-
    projection signature (pandas UDF, NumPy matmul per Arrow batch),
    candidates restricted to same-bucket rows, then exact cosine
    re-rank. At 10^12 rows the bucket join replaces the full scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType


def _cosine_cols(dot, n_l, n_r):
    return F.round(dot / (n_l * n_r), 6)


def _with_norm(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        "norm",
        F.sqrt(F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0),
                           lambda acc, x: acc + x)),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank) — exact cosine top-k, self excluded.

    ``queries`` is expected small → broadcast; the corpus is scanned
    once. Rank ties broken by neighbor_id for determinism.
    """
    c = _with_norm(corpus, id_col, vec_col)
    q = _with_norm(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    dot = F.aggregate(F.zip_with("v", "qv", lambda a, b: a * b), F.lit(0.0),
                      lambda acc, x: acc + x)
    scored = (
        c.join(F.broadcast(q), F.col("id") != F.col("query_id"))
        .withColumn("cosine", _cosine_cols(dot, F.col("norm"), F.col("qnorm")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("neighbor_id"), "rank")
    )


def hyperplane_signatures_udf(dim: int | None, n_planes: int, n_tables: int,
                              seed: int = 42):
    """``n_tables`` INDEPENDENT sign-random-projection signatures per
    vector (array<long>, one per table) — the OR-amplification side of
    LSH: a pair is a candidate if ANY table agrees (within the probe
    radius), so per-table misses multiply instead of compounding.
    One (dim x n_planes*n_tables) matmul per Arrow batch.

    ``dim=None`` (r6) infers the dimension from the first Arrow batch
    and builds the plane matrix lazily INSIDE the worker — identical
    planes for a given (dim, n_planes, n_tables, seed) on every task,
    and the caller no longer needs a driver-side limit(1).collect()
    probe job just to learn the vector width."""
    weights = (1 << np.arange(n_planes, dtype=np.uint64))
    planes_by_dim: dict[int, np.ndarray] = {}

    def _planes(d: int) -> np.ndarray:
        p = planes_by_dim.get(d)
        if p is None:
            rng = np.random.default_rng(seed)
            p = rng.standard_normal((d, n_planes * n_tables))
            planes_by_dim[d] = p
        return p

    if dim is not None:
        _planes(dim)

    @F.pandas_udf(ArrayType(LongType()))
    def _sigs(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        planes = _planes(m.shape[1] if dim is None else dim)
        bits = ((m @ planes) > 0).reshape(len(vecs), n_tables, n_planes)
        packed = (bits.astype(np.uint64) * weights[None, None, :]).sum(axis=2)
        return pd.Series(list(packed.astype(np.int64)))

    return _sigs


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    fit_sample_rows: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans cells + multi-cell probing.

    The scale path alongside lsh_topk: centroids come from Spark ML
    KMeans trained on a BOUNDED deterministic sample (<=
    ``fit_sample_rows`` rows picked by pmod(xxhash64(id)) — at 10^12
    rows the iterative fit must never scan the corpus; cell quality
    needs only a representative sample), then every corpus row is
    assigned its ONE nearest cell in a single transform pass
    (hash-partitioned inverted lists), and each query probes its
    ``n_probe`` nearest cells — centroids are a driver-side constant
    folded into a literal array, so probe assignment is a JVM
    projection, no crossJoin. Centroid-literal plan size is
    O(n_cells*dim) — guarded below, because a 65k-cell x 4k-dim literal
    would blow past the codegen constant pool. Exact cosine re-rank
    within the probed cells. Recall is governed by n_probe/n_cells
    (probing the query's own cell always finds identical vectors).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = _with_norm(corpus, id_col, vec_col).withColumn(
        "fv", array_to_vector(F.col("v").cast("array<double>"))
    )
    # deterministic bounded fit input: admit id-hash residues up to the
    # ratio that yields ~fit_sample_rows in expectation (always >= 1
    # residue so the fit never sees an empty frame); no sample()
    # randomness — the same corpus always trains the same centroids
    n_corpus = c.count()
    if n_corpus > fit_sample_rows:
        n_res = max(1, (fit_sample_rows * 1000) // n_corpus)
        fit_in = c.where(F.pmod(F.xxhash64("id"), F.lit(1000)) < n_res)
    else:
        fit_in = c
    dim_probe = corpus.select(F.col(vec_col)).limit(1).collect()
    dim = len(dim_probe[0][0]) if dim_probe else 0
    if n_cells * dim > 500_000:
        raise ValueError(
            f"centroid literal plan would carry {n_cells}x{dim} doubles; "
            f"store centroids as a broadcast table instead of literals "
            f"above 500k entries"
        )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter,
                   featuresCol="fv", predictionCol="cell").fit(fit_in)
    inverted = model.transform(c).select("id", "v", "norm", "cell")

    centers_lit = F.array(*[
        F.struct(
            F.lit(i).alias("cell"),
            F.array(*[F.lit(float(x)) for x in ctr]).alias("ctr"),
        )
        for i, ctr in enumerate(model.clusterCenters())
    ])

    def sqdist(ctr):
        return F.aggregate(
            F.zip_with("qv", ctr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        )

    q = _with_norm(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    scored_cells = F.transform(
        centers_lit,
        lambda s: F.struct(sqdist(s["ctr"]).alias("d"), s["cell"].alias("cell")),
    )
    q = q.withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(F.array_sort(scored_cells), 1, n_probe),
                lambda s: s["cell"],
            )
        ),
    )

    dot = F.aggregate(F.zip_with("v", "qv", lambda a, b: a * b), F.lit(0.0),
                      lambda acc, x: acc + x)
    scored = (
        inverted.join(q, "cell")
        .where(F.col("id") != F.col("query_id"))
        .withColumn("cosine", _cosine_cols(dot, F.col("norm"), F.col("qnorm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("neighbor_id"), "rank", "cosine")
    )


def probe_masks(n_planes: int, radius: int) -> list[int]:
    """XOR masks enumerating all buckets within Hamming ``radius`` of a
    signature — standard multiprobe LSH (probe neighbor buckets instead
    of building more tables)."""
    masks = [0]
    if radius >= 1:
        masks += [1 << i for i in range(n_planes)]
    if radius >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return masks


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    probe_radius: int = 1,
) -> DataFrame:
    """Bucketed ANN: candidates share the hyperplane bucket (or one
    within Hamming ``probe_radius`` of it — multiprobe), exact cosine
    re-rank within. The probe explosion happens on the QUERY side only
    (small), so the corpus is still touched once, hash-partitioned on
    its single true bucket."""
    bucket = hyperplane_signatures_udf(dim, n_planes, 1, seed)("v")[0]
    c = _with_norm(corpus, id_col, vec_col).withColumn("bucket", bucket)
    masks = F.array(*[F.lit(m) for m in probe_masks(n_planes, probe_radius)])
    q = (
        _with_norm(queries, id_col, vec_col)
        .withColumn("sig", bucket)
        .select(
            F.col("id").alias("query_id"), F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
            F.explode(
                F.transform(masks, lambda m: F.col("sig").bitwiseXOR(m))
            ).alias("bucket"),
        )
    )
    dot = F.aggregate(F.zip_with("v", "qv", lambda a, b: a * b), F.lit(0.0),
                      lambda acc, x: acc + x)
    scored = (
        c.join(q, "bucket")
        .where(F.col("id") != F.col("query_id"))
        .withColumn("cosine", _cosine_cols(dot, F.col("norm"), F.col("qnorm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("neighbor_id"), "rank", "cosine")
    )
