"""Executed-plan audit: runs a representative slice of the catalog and
greps each physical plan for the scale properties the engine promises:

  * no Window sitting on an Exchange SinglePartition (the one-executor
    sort trap) anywhere;
  * broadcast joins where a small side exists (BroadcastHashJoin /
    BroadcastNestedLoopJoin);
  * columnar parquet scans with pruned schemas (ReadSchema width);
  * WholeStageCodegen coverage.

Usage: python scripts/plan_audit.py [sf_dir] [query ...]
Prints one line per query: PASS/FLAG + plan facts. Exit 1 if any FLAG.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

# Window-over-SinglePartition is tolerated ONLY in queries that proved
# the frame tiny first: kaplan_meier pins its post-aggregation per-time
# frame, counts it, and takes the single-window branch only under
# small_threshold rows (the two-pass range-bucket plan handles the rest).
ALLOW_SINGLE_WINDOW: set[str] = {
    "kaplan_meier",
    # funnel's window runs over the unioned per-stage COUNT rows — the
    # frame is structurally <= len(stages) rows (each branch is a global
    # aggregate), never event data (operators/temporal.py funnel)
    "event_funnel",
}


def window_over_single(plan: str) -> bool:
    lines = plan.split("\n")
    for i, ln in enumerate(lines):
        if "Window" in ln and "WindowGroupLimit" not in ln:
            for j in range(i + 1, min(i + 5, len(lines))):
                if "Exchange" in lines[j]:
                    if "SinglePartition" in lines[j]:
                        return True
                    break
    return False


def main() -> None:
    from polars_ds_extension_spark import queries as catalog
    from polars_ds_extension_spark.session import get_spark

    spark = get_spark(app="pds-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    flags = 0
    names = list(catalog.queries()) if not ONLY else [
        n for n in catalog.queries() if n in ONLY]
    for name in names:
        fn = catalog.queries()[name]
        try:
            df = fn(spark, SF_DIR)
            df.count()  # materialize so AQE finalizes the plan
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:
            print(f"FLAG {name}: errored: {ex}")
            flags += 1
            continue
        finally:
            spark.catalog.clearCache()
        facts = []
        wos = window_over_single(plan)
        if wos and name not in ALLOW_SINGLE_WINDOW:
            facts.append("WINDOW-OVER-SINGLE-PARTITION")
        n_bhj = plan.count("BroadcastHashJoin")
        n_smj = plan.count("SortMergeJoin")
        n_shj = plan.count("ShuffledHashJoin")
        n_wsc = len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan)))
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        widths = [len(s.split(",")) if s else 0 for s in schemas]
        facts.append(f"joins b/sm/sh={n_bhj}/{n_smj}/{n_shj}")
        facts.append(f"codegen={n_wsc}")
        if widths:
            facts.append(f"scan_cols={widths}")
        status = "FLAG" if wos and name not in ALLOW_SINGLE_WINDOW else "ok"
        if status == "FLAG":
            flags += 1
        print(f"{status:4s} {name}: " + ", ".join(facts))
    print(f"\n{flags} flags over {len(names)} queries")
    spark.stop()
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
