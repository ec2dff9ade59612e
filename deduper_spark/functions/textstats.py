"""Text-analysis expressions for training-data pipelines — all JVM-side.

Language-ID (stopword-hit heuristic), quality scoring (length/punct/
stopword ratios), whitespace token counting, and document
fingerprinting. Every expression here is deliberately
ANSI-SQL-mirrorable so the DuckDB oracle can recompute it bit-for-bit
(__spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from deduper_spark.functions.text import shingles_expr, tokens_expr

# tiny fixed stopword lists — deterministic heuristic, not linguistics
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "pour", "dans"],
    "es": ["el", "la", "los", "las", "y", "de", "un", "una", "es", "para"],
}


def token_count_expr(text: str | Column) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    t = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(t)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def quality_micro_expr(text: str | Column) -> Column:
    """Integer-exact quality score in micro-units [0, 1_000_000].

    Favors mid-length docs, presence of stopwords and low punctuation
    density (length part w=0.5, stopword part w=0.3, punctuation part
    w=0.2), composed ONLY from BIGINT arithmetic + floor division, so
    any ANSI engine reproduces it bit-for-bit — floats never belong in
    hash-compared outputs:

        min(n_tok * 10_000, 500_000)
      + min(floor(sw_hits * 1_500_000 / n_split), 300_000)
      + 200_000 - floor(n_punct * 200_000 / len(text))
    """
    t = F.col(text) if isinstance(text, str) else text
    tokens = F.split(F.lower(F.trim(t)), r"\s+")
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    hits = F.size(F.filter(tokens, lambda x: F.array_contains(sw, x))).cast("long")
    n_split = F.greatest(F.size(tokens), F.lit(1)).cast("long")
    n_tok = token_count_expr(t).cast("long")
    n_len = F.greatest(F.length(t), F.lit(1)).cast("long")
    n_punct = (
        F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    ).cast("long")
    len_part = F.least(n_tok * 10_000, F.lit(500_000).cast("long"))
    sw_part = F.least(
        F.floor(hits * 1_500_000 / n_split).cast("long"),
        F.lit(300_000).cast("long"),
    )
    punct_part = F.lit(200_000).cast("long") - F.floor(
        n_punct * 200_000 / n_len
    ).cast("long")
    return (len_part + sw_part + punct_part).alias("quality_micro")


def lang_id_expr(text: str | Column) -> Column:
    """Stopword-vote language ID over {en,de,fr,es}, 'und' when no hits.
    Ties break by fixed language order (en,de,fr,es)."""
    t = F.col(text) if isinstance(text, str) else text
    tokens = F.split(F.lower(F.trim(t)), r"\s+")

    def _hits(lang: str) -> Column:
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        # NB single-arg lambda: a 2-arg lambda would be treated by
        # F.filter as (element, index) and break the closure
        return F.size(F.filter(tokens, lambda x: F.array_contains(sw, x)))

    scores = [_hits(lang) for lang in ("en", "de", "fr", "es")]
    best = F.greatest(*scores)
    out = F.lit("und")
    for lang, sc in zip(("es", "fr", "de", "en"), reversed(scores)):
        out = F.when(sc == best, F.lit(lang)).otherwise(out)
    return F.when(best == 0, F.lit("und")).otherwise(out)


def fingerprint_expr(text: str | Column, k: int = 5) -> Column:
    """Document fingerprint: lexicographic min of md5 over token
    k-shingles (one-permutation MinHash in hex — winnowing-style,
    identical in any ANSI engine with md5)."""
    t = F.col(text) if isinstance(text, str) else text
    tokens = F.split(F.lower(F.trim(t)), r"\s+")
    sh = shingles_expr(tokens, k)
    return F.array_min(F.transform(sh, lambda s: F.md5(s)))


def tfidf_topk(df, id_col: str = "doc_id", text_col: str = "text",
               k: int = 3):
    """Top-``k`` tf-idf terms per document:
    (id, rank, term, score) with score = tf * ln((N+1)/(df+1)),
    rounded to 6 decimals; ties broken by term ascending so the
    ranking is total and engine-independent (ANSI-mirrorable —
    the DuckDB oracle recomputes it bit-for-bit).

    Scale shape: tf is one hash Exchange on (id, term) with map-side
    partial aggregation; document frequency is a second agg keyed on
    term reusing the SAME exploded frame (no re-scan — Catalyst reuses
    the child via the join), then a term-keyed join tf ⋈ df. The df
    table is |vocab| rows — tiny relative to the corpus; AQE converts
    the join to broadcast at runtime when it fits, and Zipf-hot terms
    are bounded per-partition because tf is already aggregated (one
    row per (doc, term), not per occurrence). The final top-k is a
    row_number window per doc — WindowGroupLimit applies (rank <= k
    filter), so the per-doc sort is map-side-limited like the
    keep-first dedup plan (PLANS.md §3).

    N (corpus size) is a scalar aggregate collected on the driver —
    one count job, no row data.
    """
    from pyspark.sql import Window

    n_docs = df.count()
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens_expr(F.coalesce(F.col(text_col),
                                         F.lit("")))).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfreq"))
    scored = tf.join(dfreq, "term").withColumn(
        "score",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs + 1)) /
                                    (F.col("dfreq") + F.lit(1))), 6),
    )
    w = Window.partitionBy("id").orderBy(F.col("score").desc(),
                                         F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("id").alias(id_col),
                F.col("rank").cast("long").alias("rank"),
                "term", "score")
    )
