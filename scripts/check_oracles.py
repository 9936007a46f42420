"""Local mirror of the driver's t2 correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at the given SF,
compare row count, column names, and (order-insensitively) values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def values_match(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"rowcount {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if x is None and y is None:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x == y:
                    continue
                return False, f"col {c} row {i}: {x!r} != {y!r}"
            if pd.isna(x) and pd.isna(y):
                continue
            if str(x) != str(y):
                return False, f"col {c} row {i}: {x!r} != {y!r}"
    return True, ""


def main() -> int:
    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    # Vanilla session (NO extra configs) so this gate mirrors the driver's
    # environment — round 1 used get_spark() and false-greened 22 queries.
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            spark_pdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: spark error {str(ex)[:300]}")
            continue
        finally:
            # frames a query materializes are owned by its caller: drop
            # them here, or the cache grows across the whole catalog
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spark_pdf)} rows, no oracle)")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {str(ex)[:300]}")
            continue
        ok, why = values_match(canon(spark_pdf), canon(duck_pdf))
        if ok:
            print(f"ok   {name}: {len(spark_pdf)} rows match")
        else:
            failures.append(name)
            print(f"FAIL {name}: {why}")
    print(f"\n{len(qs) - len(failures)}/{len(qs)} pass")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
