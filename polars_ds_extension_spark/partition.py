"""Partition helper — the Spark analogue of the reference's
`PartitionHelper` (ref partition/partition.py:15).

The reference materializes each partition as an in-memory frame.
Spark-first, each part stays a *filtered logical plan* over the parent
DataFrame: nothing is collected, the per-part predicate is pushed into
the scan (partition pruning / row-group skipping on parquet), and a
part is only computed when an action runs on it. Only the distinct key
tuples are collected (small by contract — these are categorical
columns).
"""

from __future__ import annotations

from typing import Any, Callable, Dict, List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["PartitionHelper", "key_skew_profile", "zorder_key",
           "cluster_by_zorder"]


def key_skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """Join/shuffle-key skew diagnostic: the per-key row-count
    distribution reduced to one summary row — the scan you run BEFORE
    keying a 100 TB shuffle on a column, to decide between a plain hash
    join, a broadcast, salting, or AQE skew-join handling.

    One hash aggregation (per-key count, map-side partials) pinned and
    reduced two ways: the scalar summary is a second map-side-partial
    agg, and `p50/p90/p99_cnt` — exact linear-interpolated percentiles
    of the count distribution — come from plans/ranks.exact_quantiles
    (distributed selection), NOT `F.percentile`, whose aggregation
    buffer holds the count multiset in ONE final reducer: at the
    high-key-cardinality scale this diagnostic exists for (deciding how
    to key a 100 TB shuffle), that reducer is the straggler the
    diagnostic is meant to predict. `top1_share` is the heaviest key's
    share of all rows, and `skew_ratio` = max/mean (1.0 ⇒ perfectly
    uniform).

    Contract (r13 ADVICE): this diagnostic is EAGER at call time — the
    quantile pass runs Spark actions here and embeds p50/p90/p99 as
    driver-side literals, while max/mean/top1_share stay lazy in the
    returned frame. The percentiles therefore describe the data AS OF
    THIS CALL; collecting the returned frame later (or over a
    nondeterministic source) evaluates the lazy aggregates against the
    then-current snapshot. Acceptable for a diagnostic — call and
    collect it in one breath. The per-key counts frame is materialized
    for the two reductions and owned by the caller (its enclosing
    `_utils.owned()` block, or a harness's ``clearCache()``): it is not
    released here because the returned frame still reads it.

    Returns (n_keys, n_rows, max_cnt, mean_cnt, p50_cnt, p90_cnt,
    p99_cnt, top1_share, skew_ratio).
    """
    from ._utils import materialize
    from .plans.ranks import exact_quantiles

    c = F.col(key_col)
    counts = materialize(df.groupBy(c.alias("__k")).agg(
        F.count(F.lit(1)).alias("__n")))
    qs = exact_quantiles(counts, {"__n": [0.5, 0.9, 0.99]})["__n"]
    n = F.col("__n")
    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(n).alias("n_rows"),
        F.max(n).alias("max_cnt"),
        F.avg(n).alias("mean_cnt"),
        F.lit(qs[0]).cast("double").alias("p50_cnt"),
        F.lit(qs[1]).cast("double").alias("p90_cnt"),
        F.lit(qs[2]).cast("double").alias("p99_cnt"),
        (F.max(n) / F.sum(n)).alias("top1_share"),
        (F.max(n) / F.avg(n)).alias("skew_ratio"),
    )

_ALLOWED = ("string", "boolean")


class PartitionHelper:
    def __init__(
        self,
        df: DataFrame,
        by: str | List[str] | None,
        separator: str = "|",
        whole_df_name: str = "df",
    ):
        if by is None:
            self.parts: Dict[str, DataFrame] = {whole_df_name: df}
            return
        by_ = [by] if isinstance(by, str) else list(by)
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        bad = [c for c in by_ if types.get(c) not in _ALLOWED]
        if bad:
            raise ValueError(
                "Partitions are only supported on str/bool columns; "
                f"offending: {bad}"
            )
        keys = (
            df.select(*[F.col(c).cast("string").alias(c) for c in by_])
            .distinct().collect()
        )
        self.parts = {
            separator.join(str(r[c]) for c in by_): df.where(
                F.struct(*[F.col(c).cast("string") for c in by_])
                == F.struct(*[F.lit(r[c]) for c in by_])
            )
            for r in sorted(keys, key=lambda r: tuple(str(r[c]) for c in by_))
        }

    def __repr__(self) -> str:
        return f"PartitionHelper(parts={list(self.parts)})"

    def names(self) -> List[str]:
        return list(self.parts)

    def get(self, part: str) -> DataFrame | None:
        return self.parts.get(part)

    def head(self, n: int = 5) -> Dict[str, list]:
        """First n rows of every part (one action per part)."""
        return {k: v.limit(n).collect() for k, v in self.parts.items()}

    def apply(self, func: Callable[[str, DataFrame], Any]) -> Dict[str, Any]:
        """Apply ``func(name, part_df)`` to every part."""
        return {k: func(k, v) for k, v in self.parts.items()}


def zorder_key(cols, bits: int = 16):
    """Z-order (Morton) interleave of k non-negative integer columns —
    the multi-dimensional clustering key behind Delta/Iceberg Z-ORDER
    layout optimization: sorting a 100 TB table by this key co-locates
    rows that are close in EVERY keyed dimension, so min/max row-group
    stats prune scans filtered on any subset of the dimensions (a plain
    sort only prunes its leading column).

    Pure JVM bit arithmetic (bits·k shift/mask terms — a flat
    expression, no fold, no UDF); columns must fit in ``bits`` bits
    (values are taken modulo 2^bits via masking semantics of the
    interleave — callers bucketize wider domains first), and
    ``bits·k`` must stay ≤ 63: position 63 is the long's sign bit
    (negative keys would sort before small positive ones) and JVM
    shifts wrap mod 64 (shift 79 ≡ 15 — silent key collisions), so
    wider keys raise instead of corrupting the layout.
    """
    from functools import reduce

    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    if not cs:
        raise ValueError("zorder_key needs at least one column")
    k = len(cs)
    if bits < 1 or bits * k > 63:
        raise ValueError(
            f"bits*k = {bits * k} exceeds 63 (bits={bits}, k={k}): bit "
            "63 is the sign bit and JVM shifts wrap mod 64 — lower bits "
            "or bucketize to fewer columns")
    terms = [
        F.shiftleft(
            F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)),
            i * k + j)
        for i in range(bits) for j, c in enumerate(cs)
    ]
    return reduce(lambda a, b: a + b, terms)


def cluster_by_zorder(df: DataFrame, cols, n_partitions: int,
                      bits: int = 16, key=None) -> DataFrame:
    """Physically cluster a frame by its Z-order key: range-partition
    on the key (contiguous z-ranges per file → tight min/max stats)
    then sort within partitions. The write-side half of Z-ORDER — pair
    with a parquet sink so every file covers a small z-interval and
    both dimensions prune at read time.

    ``key`` overrides the raw-integer interleave with any precomputed
    clustering Column (e.g. the min-max-normalized key from
    sources/sinks.zorder_key, whose writer delegates here).
    """
    z = (key if key is not None else zorder_key(cols, bits)).alias("__z")
    return (df.withColumn("__z", z)
              .repartitionByRange(int(n_partitions), F.col("__z"))
              .sortWithinPartitions("__z")
              .drop("__z"))
