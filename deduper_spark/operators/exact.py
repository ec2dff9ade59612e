"""Exact-key dedup — the reference's core pipeline, Spark-first.

Reference semantics carried over (Deduper.kt:193-244):
  * key = upper(md5(concat_ws(', ', hash_cols)))           (Deduper.kt:195-201)
  * keep-FIRST survivor per key, "first" = lowest ordinal  (Deduper.kt:207-224)
  * dupe groups: hash → survivor ordinal + later ordinals
    + JSON exemplar of the first duplicate                  (Deduper.kt:225-240)
  * hash ledger: (hash, json_row?)                          (Persistors.kt:415-420)
  * report counters                                          (Deduper.kt:42-60)

Spark design (NOT a translation of the reference's cursor loop):
  * the seen-hash THashMap (Deduper.kt:106 — the reference's scalability
    wall, O(distinct) driver heap) becomes a distributed groupBy(hash)
    aggregation with map-side partial aggregation;
  * survivor selection is min(ordinal) per hash + a semi-join, NOT a
    global sort — survives 100 TB because the only shuffles are hash
    partitioned on the key;
  * ordinals come from an explicit stable order column (ordinal_expr);
    monotonically_increasing_id is never used for anything golden.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deduper_spark.functions.keys import md5_key_expr, resolve_hash_keys
from deduper_spark.report import DedupeReport

# A report lists each dupe group's detail only up to this many groups.
MAX_COLLECTED_GROUPS = 1000


@dataclass
class ExactDedupResult:
    keyed: DataFrame       # source + hash + ordinal
    survivors: DataFrame   # deduped target (source columns, first per hash)
    dupe_groups: DataFrame # (hash, row_ids, first_found_row_number, dupe_values)
    hash_ledger: DataFrame # (hash, json_row?)


def with_ordinal(df: DataFrame, order_col: str, ordinal_col: str = "row_ordinal") -> DataFrame:
    """0-based scan-order ordinal (Deduper.kt:208).

    A single global window is ONLY for reference-parity fixtures (the
    golden ordinals are scan positions). The engine path passes an
    already-stable id column and skips this. At scale, prefer
    ordinal-free semantics: survivor = min(order_col) per hash.
    """
    w = Window.orderBy(F.col(order_col))
    return df.withColumn(ordinal_col, F.row_number().over(w) - F.lit(1))


def exact_dedup(
    df: DataFrame,
    hash_keys: tuple[str, ...] = (),
    order_col: str | None = None,
    ordinal_col: str = "row_ordinal",
    include_json: bool = True,
) -> ExactDedupResult:
    """Build the full exact-dedup DAG (no actions triggered).

    ``order_col``: stable column defining "first". If ``ordinal_col``
    is already present in df it is used as-is (parity-fixture path).
    """
    cols = [c for c in df.columns if c != ordinal_col]
    keys = resolve_hash_keys(df.select(cols), hash_keys)
    key_expr = md5_key_expr(keys)

    if ordinal_col not in df.columns:
        if order_col is None:
            raise ValueError("need order_col or a precomputed ordinal column")
        df = df.withColumn(
            ordinal_col, F.col(order_col)
        )  # ordinal-free engine path: any totally-ordered stable key works

    keyed = df.withColumn("hash", key_expr)

    # ---- keep-first selection -------------------------------------------
    # One shuffle, hash-partitioned on the key; row_number (not min+filter)
    # so ties in the order column still keep exactly one survivor. The sort
    # is per-group inside each partition — no global sort anywhere, which
    # is what keeps this viable at 100 TB. AQE splits residual key skew.
    w_grp = Window.partitionBy("hash").orderBy(F.col(ordinal_col))
    grp = keyed.withColumn("__rn", F.row_number().over(w_grp))
    survivors = grp.where(F.col("__rn") == 1).drop("__rn")
    dupe_rows = grp.where(F.col("__rn") > 1)

    # ---- dupe groups ----------------------------------------------------
    # (hash, row_ids json, first_found_row_number, dupe_values json) —
    # schema from Persistors.kt:343-350. dupe_values = first DUPLICATE
    # row's JSON (Deduper.kt:230 captures the row that triggered the group).
    firsts = keyed.groupBy("hash").agg(F.min(ordinal_col).alias("__first_ord"))
    dupe_groups = (
        dupe_rows.groupBy("hash")
        .agg(
            F.to_json(F.sort_array(F.collect_list(F.col(ordinal_col)))).alias("row_ids"),
            F.to_json(
                F.min_by(F.struct(*[F.col(c).cast("string").alias(c) for c in cols]),
                         F.col(ordinal_col))
            ).alias("dupe_values"),
        )
        .join(firsts.withColumnRenamed("__first_ord", "first_found_row_number"),
              "hash", "inner")
        .select("hash", "row_ids", "first_found_row_number", "dupe_values")
    )

    # ---- hash ledger ----------------------------------------------------
    if include_json:
        ledger = (
            keyed.groupBy("hash")
            .agg(
                F.to_json(
                    F.min_by(F.struct(*[F.col(c).cast("string").alias(c) for c in cols]),
                             F.col(ordinal_col))
                ).alias("json_row")
            )
        )
    else:
        ledger = keyed.select("hash").distinct()

    return ExactDedupResult(keyed=keyed, survivors=survivors,
                            dupe_groups=dupe_groups, hash_ledger=ledger)


def build_report(
    result: ExactDedupResult,
    hash_keys: list[str],
    columns: list[str],
    preloaded_hash_count: int = 0,
    collect_dupes: bool = True,
) -> DedupeReport:
    """One small aggregation action → DedupeReport (Deduper.kt:42-60).

    hash_count includes preloaded ledger hashes (Deduper.kt:272 =
    seenHashes.size; semantics pinned by DeduperTest.kt:408-412).
    """
    agg = result.keyed.agg(
        F.count("*").alias("record_count"),
        F.count_distinct("hash").alias("new_hash_count"),
    ).collect()[0]
    grp_agg = result.dupe_groups.agg(
        F.count("*").alias("distinct_dupe_count"),
    ).collect()[0]
    record_count = agg["record_count"]
    distinct_dupe_count = grp_agg["distinct_dupe_count"]
    surviving = result.survivors.count()
    dupe_count = record_count - surviving

    dupes: dict[str, dict] = {}
    if collect_dupes and distinct_dupe_count <= MAX_COLLECTED_GROUPS:
        for r in result.dupe_groups.collect():
            dupes[r["hash"]] = {
                "row_ids": r["row_ids"],
                "first_found_row_number": r["first_found_row_number"],
                "dupe_values": r["dupe_values"],
            }

    return DedupeReport(
        record_count=record_count,
        hash_columns=list(hash_keys),
        columns_found=list(columns),
        dupe_count=dupe_count,
        distinct_dupe_count=distinct_dupe_count,
        hash_count=agg["new_hash_count"] + preloaded_hash_count,
        dupes=dupes,
        success=True,
    )
