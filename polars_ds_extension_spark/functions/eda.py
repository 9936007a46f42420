"""EDA diagnostics — ref eda/diagnosis.py (null/distinct/moment report,
constant & id-like column detection).

One aggregation pass computes every metric for every requested column
(all map-side combinable); the wide single row is then unpivoted to the
long (column, metric...) report on the driver side of the agg — the
data is scanned exactly once regardless of column count.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._utils import _run_threads


def describe(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Long-format numeric profile: column, n, null_cnt, n_distinct,
    mean, std, min, max, median."""
    cols = list(cols) if cols else [
        f.name for f in df.schema.fields
        if f.dataType.simpleString() in
        ("int", "bigint", "double", "float", "smallint", "tinyint", "decimal")
    ]
    # TWO aggregations, split on purpose: (moments + quantile boundary
    # sketch) in one scan, the exact count_distincts in another. A
    # fused single agg pays Expand — Spark rewrites multi-column
    # DISTINCT aggs by duplicating every input row once per distinct
    # column (+1 for the plain aggs), so the moment/sketch buffers also
    # chew 4× the rows. r10 measurement on 3 lineitem columns: fused
    # 4.0 s vs split 1.7 s at 6M rows (and a tie at 600k — the r8
    # fused-wins measurement didn't survive the 10× probe). Two pruned
    # parquet scans beat one 4×-expanded scan at any scale. Medians
    # then go through the fused distributed-selection plan
    # (plans/ranks.exact_quantiles: ONE more scan with observe()-riding
    # counts) — never F.median, whose physical agg merges every value
    # in ONE reducer (a single-node sort at scale).
    from .._utils import spread
    from ..plans.ranks import (
        exact_quantiles, quantile_sketch_aggs, quantile_sketch_parse,
    )

    df = spread(df)
    aggs = []
    for c in cols:
        cc = F.col(c).cast("double")
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(cc.isNull().cast("long")).alias(f"{c}__nulls"),
            F.avg(cc).alias(f"{c}__mean"),
            F.stddev_samp(cc).alias(f"{c}__std"),
            F.min(cc).alias(f"{c}__min"),
            F.max(cc).alias(f"{c}__max"),
        ]
    aggs += quantile_sketch_aggs(cols)  # rides the same scan
    # r15 (guide §2.6): the moments+sketch scan and the count_distinct
    # scan are independent jobs — submit them from two driver threads
    # so the second scan back-fills executors freed by the first's
    # tail instead of waiting for it.
    row, nd = _run_threads([
        lambda: df.agg(*aggs).first().asDict(),
        lambda: df.agg(*[F.count_distinct(F.col(c)).alias(f"{c}__nd")
                         for c in cols]).first().asDict(),
    ])
    row.update(nd)
    meds = exact_quantiles(df, {c: [0.5] for c in cols},
                           presketch=quantile_sketch_parse(row, cols))
    for c in cols:
        row[f"{c}__med"] = meds[c][0]
    out = [
        (
            c, int(row[f"{c}__n"]), int(row[f"{c}__nulls"]), int(row[f"{c}__nd"]),
            float(row[f"{c}__mean"]) if row[f"{c}__mean"] is not None else None,
            float(row[f"{c}__std"]) if row[f"{c}__std"] is not None else None,
            float(row[f"{c}__min"]) if row[f"{c}__min"] is not None else None,
            float(row[f"{c}__max"]) if row[f"{c}__max"] is not None else None,
            float(row[f"{c}__med"]) if row[f"{c}__med"] is not None else None,
        )
        for c in cols
    ]
    return df.sparkSession.createDataFrame(
        out,
        "column string, n bigint, null_cnt bigint, n_distinct bigint, "
        "mean double, std double, min double, max double, median double",
    )


def null_report(df: DataFrame) -> DataFrame:
    """Per-column null counts/percentages for ALL columns (one pass)."""
    cols = df.columns
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(c) for c in cols
    ]
    row = df.agg(*aggs).first()
    n = int(row["__n"])
    out = [(c, int(row[c]), float(row[c]) / n if n else None) for c in cols]
    return df.sparkSession.createDataFrame(
        out, "column string, null_cnt bigint, null_pct double")


def column_flags(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Degenerate-column detection: constant (1 distinct) and id-like
    (distinct == non-null count) flags. Ref eda/diagnosis.py."""
    cols = list(cols) if cols else df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__n"),
            F.count_distinct(F.col(c)).alias(f"{c}__nd"),
        ]
    row = df.agg(*aggs).first()
    out = [
        (c, int(row[f"{c}__nd"]) <= 1,
         int(row[f"{c}__nd"]) == int(row[f"{c}__n"]) and int(row[f"{c}__n"]) > 0)
        for c in cols
    ]
    return df.sparkSession.createDataFrame(
        out, "column string, is_constant boolean, is_id_like boolean")


def corr_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlation matrix in long form — all k(k−1)/2
    pairs in ONE aggregation pass. Ref eda/diagnosis.py (corr report).
    Output: (col_a, col_b, corr)."""
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    aggs = [F.corr(F.col(a).cast("double"), F.col(b).cast("double"))
            .alias(f"{a}__{b}") for a, b in pairs]
    row = df.agg(*aggs).first()
    out = [(a, b, float(row[f"{a}__{b}"]) if row[f"{a}__{b}"] is not None else None)
           for a, b in pairs]
    return df.sparkSession.createDataFrame(
        out, "col_a string, col_b string, corr double")


def histogram(df: DataFrame, x: str, n_bins: int = 20) -> DataFrame:
    """Equi-width histogram: one tiny (min, max) agg pins the range as
    literals, then binning is a scan-side floor expression and ONE
    map-side-combinable count — the two-pass shape any 100 TB
    histogram needs (a one-pass approach would shuffle raw values).
    The top edge closes right (max lands in the last bin). Output:
    (bin, lo, hi, n) for non-empty bins.
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    xx = F.col(x).cast("double")
    row = df.agg(F.min(xx).alias("mn"), F.max(xx).alias("mx")).first()
    mn, mx = row["mn"], row["mx"]
    if mn is None:
        # All-NULL/empty column: no bins at all (an agg-based fallback
        # would fabricate a phantom (0, NULL, NULL, 0) row).
        return df.sparkSession.createDataFrame(
            [], "bin int, lo double, hi double, n bigint")
    if mx == mn:
        return (df.where(xx.isNotNull())
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.lit(0).alias("bin"),
                        F.lit(mn).cast("double").alias("lo"),
                        F.lit(mx).cast("double").alias("hi"), "n"))
    w = (mx - mn) / n_bins
    b = F.least(F.floor((xx - F.lit(mn)) / F.lit(w)).cast("int"),
                F.lit(n_bins - 1))
    return (df.where(xx.isNotNull())
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select("bin",
                    (F.lit(mn) + F.col("bin") * F.lit(w)).alias("lo"),
                    (F.lit(mn) + (F.col("bin") + 1) * F.lit(w)).alias("hi"),
                    "n"))
