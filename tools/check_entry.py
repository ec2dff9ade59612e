"""Local emulation of the driver's correctness gate: run every
__spark_entry__ query Spark-side and its DuckDB oracle side-by-side at
a given sf dir, compare row count, column names, and order-insensitive
values.

Usage: python tools/check_entry.py [sf_dir] [query ...]

``oracle_views`` and ``mismatches`` are importable, so a test can run
the same gate on a few queries.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per sf table."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def mismatches(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """How the Spark result differs from the oracle's: row count,
    column names, then order-insensitive values. Empty if they agree."""
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rows {len(sdf)} vs {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
    if not problems:
        a, b = canon(sdf), canon(odf)
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                          check_exact=False, atol=1e-9)
        except AssertionError as e:
            problems.append("values: " + str(e).split("\n")[0])
            diff = pd.concat([a, b]).drop_duplicates(keep=False)
            if len(diff):
                problems.append("sample diff:\n" + diff.head(6).to_string())
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from deduper_spark.session import get_spark

    spark = get_spark("check_entry", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = oracle_views(sf_dir)
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"[SPARK-ERR] {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY] {name}: {len(sdf)} rows, cols={list(sdf.columns)}")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"[ORACLE-ERR] {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        problems = mismatches(sdf, odf)
        if problems:
            failures.append(name)
            print(f"[FAIL] {name}: " + "; ".join(problems))
        else:
            print(f"[OK]   {name}: {len(sdf)} rows")

    spark.stop()
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
