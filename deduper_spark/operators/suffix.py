"""Exact-substring containment pass.

Catches the dup class MinHash misses at low containment: a long
caption that contains another row's full caption verbatim (Jaccard of
the pair can be ~0.3 while containment is 1.0). Mirrors the
reference's exact-key vs fuzzy-key dual-mode framing
(reference README.md dual framing; BASELINE.json north_star
"suffix-array substring pass").

Scale design — anchor-shingle containment join (the distributed
equivalent of a suffix-array lookup; a global suffix array over 100 TB
of text is not a Spark-shaped structure, an inverted anchor index is):
  * if caption A occurs inside caption B, then EVERY k-shingle of A
    is a k-shingle of B — in particular A's first shingle;
  * so: index B-side by exploded shingle hash, join A-side on its
    anchor (first-shingle hash), then confirm with a JVM-side
    `contains(B.caption, A.caption)` — exact, no false positives;
  * the anchor join is hash-partitioned on the shingle hash; hot
    anchors (stop-phrases) are admitted by the same step as LSH buckets
    (lsh._admit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduper_spark.operators.lsh import _admit, block_pairs

# Anchors held by more container rows than this are stop-phrases:
# dropped from the containment join.
MAX_ANCHOR_BUCKET = 1000


def substring_overlap_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "norm_caption",
    min_len: int = 40,
) -> DataFrame:
    """Pairs sharing ANY substring of length >= min_len characters —
    the per-shard SUFFIX-ARRAY pass (functions/suffix_array.py:
    prefix-doubling SA + Kasai LCP over the shard's concatenated
    text), i.e. the exact-substring dedup used on web-scale training
    corpora (catches long verbatim overlaps MinHash misses entirely).

    Scale design: each input partition is a shard; the SA is built per
    shard inside mapInPandas (memory ~ O(shard chars)). Detection is
    shard-LOCAL — the EXACT global pass (no cross-shard gap at any
    parallelism) is winnowed_substring_pairs below, which is what the
    driver query and the pipeline use; this per-shard SA pass is the
    within-shard analytics kernel (maximal run structure, full LCP).
    Each shard's work is independent — no shuffle.
    """
    from collections.abc import Iterator

    import pandas as pd

    sel = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from deduper_spark.functions.suffix_array import shared_substring_pairs

        ids: list[str] = []
        texts: list[str] = []
        for pdf in batches:
            ids.extend(pdf["id"].tolist())
            texts.extend((pdf["t"].fillna("")).tolist())
        pairs = shared_substring_pairs(texts, ids, min_len)
        yield pd.DataFrame(sorted(pairs), columns=["id_l", "id_r"])

    out = sel.mapInPandas(run, schema="id_l string, id_r string")
    return out.distinct().withColumn("families", F.array(F.lit("substring_sa")))


def winnowed_substring_pairs(
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "norm_caption",
    min_len: int = 45,
    k: int = 32,
    max_fp_bucket: int = 2000,
) -> tuple[DataFrame, DataFrame]:
    """EXACT distributed substring pass: all pairs sharing any substring
    of length >= min_len — recall 1.0 by the winnowing guarantee
    (functions/winnow.py) AMONG ADMITTED fingerprint buckets, precision
    1.0 by per-pair literal verification. The scale-correct successor
    to the per-shard SA pass: no doc sharding, so there is NO
    cross-shard recall gap at any parallelism.

    Plan shape (what survives 10^12 rows):
      1. fingerprints: narrow mapInPandas (numpy winnow kernel) →
         (id, fp) exploded, ~2/(W+1) of characters per doc — one
         projection, zero shuffle;
      2. candidates: lsh.block_pairs with key ``fp`` and max_cell =
         ``max_fp_bucket``, so each admitted bucket is one cell. Buckets
         over ``max_fp_bucket`` are stop-patterns (license headers,
         boilerplate), dropped from pairing and returned — on
         boilerplate-heavy corpora the recall-1.0 guarantee is qualified
         by the cap;
      3. verification: distinct pairs join texts (id-keyed), then an
         Arrow-batched exact check (rolling-hash window intersection
         confirmed against literal characters — suffix-structure
         verification, collision-proof).

    Returns (pairs(id_l, id_r, families), dropped(fp, bucket_size)).
    """
    from collections.abc import Iterator

    import pandas as pd

    sel = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))

    def fps(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from deduper_spark.functions.winnow import winnow_fingerprints_batch

        for pdf in batches:
            texts = pdf["t"].fillna("").tolist()
            per_doc = winnow_fingerprints_batch(texts, min_len, k)
            ids, vals = [], []
            for i, f in zip(pdf["id"], per_doc):
                if len(f):
                    ids.extend([i] * len(f))
                    vals.extend(f.tolist())
            yield pd.DataFrame({"id": ids, "fp": vals})

    # pin the fingerprint pass (r6): buckets feeds the sizing agg AND
    # the join back to the admitted buckets — unpinned, the Python
    # winnow kernel ran once per consumer (measured ~1.2 s per pass at
    # sf0.1). Lazy checkpoint: the sizing aggregation is the
    # materializing action, no extra job.
    buckets = sel.mapInPandas(
        fps, schema="id string, fp long"
    ).localCheckpoint(eager=False)

    cand, dropped = block_pairs(buckets, ["fp"], max_fp_bucket, max_fp_bucket)
    cand = cand.select("id_l", "id_r").distinct()

    texts_l = sel.select(F.col("id").alias("id_l"), F.col("t").alias("t_l"))
    texts_r = sel.select(F.col("id").alias("id_r"), F.col("t").alias("t_r"))
    paired = cand.join(texts_l, "id_l").join(texts_r, "id_r")

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from deduper_spark.functions.winnow import batch_shares_substring

        for pdf in batches:
            keep = batch_shares_substring(
                [str(a or "") for a in pdf["t_l"]],
                [str(b or "") for b in pdf["t_r"]],
                min_len,
            )
            yield pdf.loc[keep, ["id_l", "id_r"]]

    verified = paired.select("id_l", "id_r", "t_l", "t_r").mapInPandas(
        verify, schema="id_l string, id_r string"
    )
    pairs = verified.withColumn("families", F.array(F.lit("substring_win")))
    return pairs, dropped


def containment_pairs(feats: DataFrame) -> DataFrame:
    """feats: (id, norm_caption: string, shingle_hashes: array<long>).

    Returns (id_l, id_r, families=['substring']) for pairs where one
    normalized caption contains the other (strictly different ids;
    equal captions are the exact path's job but are caught here too).

    Container anchors are admitted by lsh._admit with cap
    ``MAX_ANCHOR_BUCKET``. An anchor held by one row can only pair that
    row with itself, which the c_id != t_id filter removes anyway. The
    dropped anchors are not returned: the pair-only return type is kept
    for existing callers.
    """
    contained = feats.select(
        F.col("id").alias("c_id"),
        F.col("norm_caption").alias("c_caption"),
        F.element_at("shingle_hashes", 1).alias("anchor"),
    )
    container = feats.select(
        F.col("id").alias("t_id"),
        F.col("norm_caption").alias("t_caption"),
        F.explode("shingle_hashes").alias("anchor"),
    )

    container = _admit(container, ["anchor"], MAX_ANCHOR_BUCKET)[0] \
        .drop("bucket_size")

    hits = (
        contained.join(container, "anchor")
        .where(F.col("c_id") != F.col("t_id"))
        .where(F.col("t_caption").contains(F.col("c_caption")))
        .select(
            F.least("c_id", "t_id").alias("id_l"),
            F.greatest("c_id", "t_id").alias("id_r"),
        )
        .distinct()
        .withColumn("families", F.array(F.lit("substring")))
    )
    return hits
