"""Dedup-key column expressions.

Byte-parity with the reference's key definition (Deduper.kt:195-201):
stringify the selected columns in USER key order, join with ", ",
MD5, uppercase hex. Golden: "3526 HIGH ST, SACRAMENTO, CA, 95838, 59222"
→ B23CF69F6FC378E0A9C1AF14F2D2083C (DeduperTest.kt:427-428).

Engine-internal 64-bit keys use xxhash64 — the intent behind the
reference's vestigial Hasher.hashString (hashing/Hasher.kt:10-13).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KEY_SEPARATOR = ", "

# Kotlin renders a null element as the literal "null" in joinToString;
# SqlUtils.stringifyRow joins rs.getString(col) values (Deduper.kt:195),
# so a NULL column contributes a "null" token AND keeps its separator.
NULL_TOKEN = "null"


def stringify_expr(hash_keys: list[str] | tuple[str, ...]) -> Column:
    """Every selected column contributes exactly one token (NULL →
    'null'), joined with ', ' in user key order.

    Plain concat_ws would SKIP a NULL column including its separator,
    making (a, NULL, b) stringify identically to (a, b, NULL) — two
    distinct rows silently merged under one MD5 key. The reference
    tolerates null key columns (null golden: DeduperTest.kt:353-392),
    so each column is null-coalesced BEFORE the join.
    """
    return F.concat_ws(
        KEY_SEPARATOR,
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(NULL_TOKEN))
            for c in hash_keys
        ],
    )


def md5_key_expr(hash_keys: list[str] | tuple[str, ...]) -> Column:
    return F.upper(F.md5(stringify_expr(hash_keys)))


def resolve_hash_keys(df: DataFrame, hash_keys: tuple[str, ...]) -> list[str]:
    """Empty hash_keys ⇒ all columns (Deduper.kt:181-186); validate
    user keys ⊆ df.columns (Deduper.kt:177-179)."""
    if not hash_keys:
        return list(df.columns)
    missing = [c for c in hash_keys if c not in df.columns]
    if missing:
        raise ValueError(
            f"hash columns {missing} not found in source columns {df.columns}"
        )
    return list(hash_keys)
