"""Shared helpers for the PySpark-native polars_ds engine.

Parallels reference python/polars_ds/_utils.py:1-58 (str_to_expr /
to_expr coercion), re-expressed for pyspark Columns.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec

ColumnLike = "str | Column"


def to_col(x) -> Column:
    """Coerce a str column name / Column / numeric literal to a Column."""
    if isinstance(x, Column):
        return x
    if isinstance(x, str):
        return F.col(x)
    if isinstance(x, (int, float, bool)):
        return F.lit(x)
    raise TypeError(f"expected str | Column | numeric, got {type(x)}")


def to_cols(xs: Iterable) -> list[Column]:
    return [to_col(x) for x in xs]


def group_window(by: Sequence | None) -> WindowSpec:
    """A Window partitioned by ``by`` (global single partition if None).

    A global window on a 100 TB table collapses to one partition — every
    function that accepts ``by=None`` documents this; benchmark queries
    always pass a grouping.
    """
    if by:
        return Window.partitionBy(*to_cols(by))
    return Window.partitionBy()


def with_global_totals(df, **aggs: Column):
    """Attach global scalar aggregates as literal-like columns via one
    agg + broadcast cross-join.

    The scale-safe replacement for ``F.sum(c).over(Window.partitionBy())``
    on an unbounded frame: the aggregate is map-side combinable (partial
    per partition, one tiny merge), whereas the empty window funnels every
    row through a SinglePartition exchange before summing.
    """
    tot = df.agg(*[a.alias(n) for n, a in aggs.items()])
    return df.crossJoin(F.broadcast(tot))


def ordered_window(order_by, by: Sequence | None = None, desc: bool = False) -> WindowSpec:
    ob = to_col(order_by)
    ob = ob.desc() if desc else ob.asc()
    if by:
        return Window.partitionBy(*to_cols(by)).orderBy(ob)
    return Window.partitionBy().orderBy(ob)


def spread(df, min_ratio: int = 2):
    """Round-robin repartition a narrow input up to the session's default
    parallelism before CPU-heavy per-row work (shingling, vector math,
    signature UDFs).

    At 100 TB this is a no-op: big scans arrive with thousands of file
    splits, so the condition never fires and no shuffle is added. It
    fires only when the scan yields far fewer partitions than cores
    (small files / single-row-group parquet) — there, shuffling a few MB
    once unlocks an N-core speedup on everything downstream.
    """
    if df.isStreaming:  # partitioning is the source's concern on streams
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * min_ratio <= target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------- materialization

# The frame list of the innermost open `owned()` block (None outside
# any block). A ContextVar, not a module list: each thread and each
# nested block sees only its own owner, and nothing outlives its block.
_OWNER: ContextVar["list | None"] = ContextVar("pds_owner", default=None)


def materialize(df):
    """persist(MEMORY_AND_DISK) and register the frame with the
    innermost `owned()` block, which releases it on exit.

    Outside any block this is a plain persist owned by the caller: an
    operator whose result reads the frame after it returns leaves the
    release to whoever consumes that result (an enclosing `owned()`,
    `release`, or a harness's `spark.catalog.clearCache()`)."""
    from pyspark.storagelevel import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    frames = _OWNER.get()
    if frames is not None:
        frames.append(out)
    return out


@contextmanager
def owned():
    """Own every frame `materialize`d inside the block: all of them are
    unpersisted when the block exits, including when it raises. Use it
    around work that consumes its materialized frames before the block
    ends; a frame that must outlive the block is materialized outside
    it. Unpersisting is always safe — Spark recomputes lineage if a
    released frame is ever read again."""
    frames: list = []
    token = _OWNER.set(frames)
    try:
        yield
    finally:
        _OWNER.reset(token)
        for df in reversed(frames):
            try:
                df.unpersist(blocking=False)
            except Exception:  # session already stopped — nothing to free
                pass


def release(df) -> None:
    """Drop one persisted or locally checkpointed frame's storage NOW.

    ``DataFrame.unpersist()`` is a silent no-op on a checkpointed frame
    — it only consults the CacheManager, while localCheckpoint storage
    lives on the RDD under the frame's LogicalRDD (measured: an
    iterative loop's superseded per-round checkpoints survived
    df.unpersist and accumulated until a JVM GC let the ContextCleaner
    reap them), so that RDD is unpersisted too. A released checkpoint
    is UNUSABLE afterwards (lineage is truncated, storage gone) — call
    this only on frames that are never read again."""
    try:
        df.unpersist(blocking=False)
        plan = df._jdf.queryExecution().analyzed()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:  # session stopped or plan shape moved — leave it
        pass  # to the ContextCleaner
