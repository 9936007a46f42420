"""r15 optimization measurement harness.

Times a named subset of catalog queries exactly like bench.py's catalog
loop (count()-forced, min-of-N in one warmed session, clearCache
between runs) and optionally writes each query's
.explain("formatted") to plans/r15/<query>_<tag>.txt.

Usage:
  python scripts/opt_measure.py [--plans TAG] [--runs N] [--sf DIR] q1 q2 ...
  python scripts/opt_measure.py --all           # whole catalog, 1 run each
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--plans", default=None,
                    help="write explain('formatted') to <plans-dir>/<q>_<TAG>.txt")
    ap.add_argument("--plans-dir", default="plans/r16")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from polars_ds_extension_spark import queries as catalog
    from polars_ds_extension_spark.session import get_spark
    from polars_ds_extension_spark.sources import load_table

    spark = get_spark(app="pds-opt-measure")
    spark.sparkContext.setLogLevel("ERROR")
    load_table(spark, args.sf, "lineitem").count()

    @pandas_udf("double")
    def _wu(v: pd.Series) -> pd.Series:
        return v * 1.0

    spark.range(0, 32 * 256, 1, 32).select(
        _wu(F.col("id").cast("double"))).count()

    qs = catalog.queries()
    names = list(qs) if args.all else args.queries
    runs = 1 if args.all else args.runs
    results = {}
    for name in names:
        if name not in qs:
            print(f"?? unknown query {name}", file=sys.stderr)
            continue
        if args.plans:
            os.makedirs(args.plans_dir, exist_ok=True)
            df = qs[name](spark, args.sf)
            with open(f"{args.plans_dir}/{name}_{args.plans}.txt", "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted")))
            spark.catalog.clearCache()
        if runs == 0:
            continue
        walls = []
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"opt:{name}")
            t0 = time.perf_counter()
            try:
                qs[name](spark, args.sf).count()
                walls.append(time.perf_counter() - t0)
            except Exception as ex:
                print(f"ERROR {name}: {ex}", file=sys.stderr)
                walls.append(float("nan"))
                break
            finally:
                spark.catalog.clearCache()
        if not walls:
            continue
        best = min(walls)
        results[name] = best
        print(f"{best:8.3f}s  {name}  runs="
              f"[{', '.join(f'{w:.3f}' for w in walls)}]", flush=True)
    print("TOTAL", round(sum(v for v in results.values() if v == v), 2))
    spark.stop()


if __name__ == "__main__":
    main()
