"""The benchmark's workloads: which catalog queries each one runs, and why.

Two workloads split the engine along the forcing action. In `expr_udf`
the work happens inside the action: JVM stages and the Arrow/pandas UDF
boundary, with little construction. In `driver_state` most of the wall
comes before the action: driver-run jobs and collects, pinned
intermediates, streaming state. A change to one side predicts no move on
the other. perfbench/README.md gives the census behind the query lists.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    why: str
    queries: tuple[str, ...]
    tables: tuple[str, ...]      # the tables the queries read; footers at set-up


WORKLOADS = {
    "expr_udf": Workload(
        why="work inside the forcing action: JVM expression queries and "
            "queries crossing the Arrow/pandas UDF boundary, with little "
            "construction",
        queries=(
            # JVM only: functions.stats, .metrics, .num, .string_, .linear, .ts
            "ttest", "regression_metrics", "softmax_znorm", "string_cleaning",
            "simple_lin_reg", "entropy",
            # Python UDF nodes: operators.knn, .text, .multimodal, .bpe;
            # unicode_clean loses its UDF node when forced by count()
            "knn_cosine", "unicode_clean", "multimodal_decode",
            "bpe_tokenize_oracle",
        ),
        tables=("customer", "documents", "embeddings", "events", "lineitem",
                "part"),
    ),
    "driver_state": Workload(
        why="work before the forcing action: driver-run jobs and collects "
            "(some from helper threads), pinned intermediates, a vector index "
            "and streaming state",
        queries=(
            # construction jobs: functions.stats (reads a pin), pipeline,
            # and onlinelr_merge's ThreadPool jobs
            "kaplan_meier", "pipeline_encode", "onlinelr_merge",
            # state writes: operators.knn index build (pins), streaming.ops
            # through a memory sink
            "vector_index_build", "stream_windowed_agg", "stream_dedup",
        ),
        tables=("embeddings", "events", "lineitem"),
    ),
}
