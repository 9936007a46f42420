"""Metric names and units, as BENCHMARK.json lists them.

End-to-end metrics come from untraced runs; per-layer metrics from
traced runs, where every count and time is per traced warm pass.

The summary metrics are printed by every run but carry no bound, because
ten runs of identical code spread wider than any bound the benchmark may
set (0.25 of the median) or because the bound means nothing:
cold_pass_s and query_p50_s spread by up to 0.24 and 0.25 (IQR over
median) on a shared 4-core host, query_p90_s needs 100 warm executions,
fail_frac is 0 when the engine is correct, and peak_rss_mb moves with
the JVM's heap sizing by 0.1-0.27.
"""

from __future__ import annotations

from .trace import LAYER_MODULES

END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
}

SUMMARY = {
    "cold_pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "fail_frac": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "sources.scan_bytes": "bytes",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_tasks": "count",
    "queries.build_share": "ratio",
    "queries.action_s": "s",
    **{f"{m}.{k}": u for m in LAYER_MODULES
       for k, u in (("self_s", "s"), ("jobs", "count"))},
    "driver.collects": "count",
    "driver.collect_rows": "count",
    "driver.collect_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_skipped": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.core_idle_s": "s",
    "spark.failed_tasks": "count",
    "spark.jobs_unattributed": "count",
    "udf.py_total_s": "s",
    "udf.boot_s": "s",
    "udf.init_s": "s",
    "udf.bytes_sent": "bytes",
    "udf.bytes_received": "bytes",
    "udf.rows_received": "count",
    "cache.pins_live_max": "count",
    "cache.mem_bytes_peak": "bytes",
    "cache.disk_bytes_peak": "bytes",
    "cache.rdds_peak": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.state_rows": "count",
    "trace.overhead_s": "s",
}
