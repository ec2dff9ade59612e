"""Candidate-pair verification.

The reference's exact mode gets verification for free (MD5 equality —
collision probability ~0, Deduper.kt:207); every fuzzy family here
re-checks its candidates with the real predicate so LSH false
positives never reach clustering:

  * caption family: true Jaccard on shingle-hash SETS — JVM-side
    array_intersect/array_union (no Python);
  * simhash / phash families: Hamming via F.bit_count(a ^ b) — JVM;
  * pixel fidelity: PSNR >= threshold on DECODED bytes, pairs only
    (the binary column is projected into this join and nowhere else —
    SURVEY.md §7 hard part (e)), via mapInPandas (Arrow batches).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _attach(pairs: DataFrame, feats: DataFrame, cols: list[str]) -> DataFrame:
    """Join per-row features onto both sides of the pair table."""
    left = feats.select(
        F.col("id").alias("id_l"), *[F.col(c).alias(f"{c}_l") for c in cols]
    )
    right = feats.select(
        F.col("id").alias("id_r"), *[F.col(c).alias(f"{c}_r") for c in cols]
    )
    return pairs.join(left, "id_l").join(right, "id_r")


def verify_jaccard(
    pairs: DataFrame, feats: DataFrame, shingle_col: str, threshold: float
) -> DataFrame:
    """pairs: (id_l, id_r, ...); feats: (id, <shingle_col>: array<long>).
    Exact set Jaccard: the pairs at or above ``threshold``, with their
    own columns plus ``jaccard``."""
    j = _attach(pairs, feats, [shingle_col])
    inter = F.size(F.array_intersect(f"{shingle_col}_l", f"{shingle_col}_r"))
    union = F.size(F.array_union(f"{shingle_col}_l", f"{shingle_col}_r"))
    return (
        j.withColumn("jaccard", inter / F.greatest(union, F.lit(1)))
        .where(F.col("jaccard") >= threshold)
        .select(*pairs.columns, "jaccard")
    )


def verify_psnr(
    pairs: DataFrame, images: DataFrame, psnr_threshold_db: float
) -> DataFrame:
    """images: (id, bytes). Decode both sides per pair, keep pairs with
    PSNR >= threshold (inf for byte-identical). Arrow-batched; pairs
    only — never the full corpus."""
    j = _attach(pairs, images, ["bytes"])

    # families rides THROUGH the Arrow batch so the pair subtree is
    # computed exactly once (a re-join against `pairs` would execute
    # the whole candidate DAG twice)
    schema = "id_l string, id_r string, families array<string>, psnr double"

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # imports inside: runs on executors
        from deduper_spark.functions.phash import decode_image, psnr_db

        for pdf in batches:
            if len(pdf) == 0:
                continue
            psnrs = []
            for bl, br in zip(pdf["bytes_l"], pdf["bytes_r"]):
                try:
                    if bytes(bl) == bytes(br):
                        # byte-identical blobs decode to identical
                        # pixels: PSNR is +inf by definition — skip the
                        # two decodes (r6; exact-copy dups dominate the
                        # audit sample, measured ~half the decode cost)
                        psnrs.append(float("inf"))
                        continue
                    a, b = decode_image(bytes(bl)), decode_image(bytes(br))
                    p = psnr_db(a, b) if a.shape == b.shape else 0.0
                except NotImplementedError:
                    p = -1.0  # undecodable format in this container
                psnrs.append(p)
            yield pd.DataFrame(
                {"id_l": pdf["id_l"], "id_r": pdf["id_r"],
                 "families": pdf["families"], "psnr": psnrs}
            )

    scored = j.select("id_l", "id_r", "families", "bytes_l", "bytes_r").mapInPandas(
        compute, schema=schema
    )
    return scored.where(F.col("psnr") >= psnr_threshold_db).select(
        "id_l", "id_r", "families", "psnr"
    )
