"""SparkSession factory with scale-oriented defaults.

AQE on (runtime re-plan, skew-join splitting, shuffle coalescing),
Arrow on (every pandas-UDF boundary is Arrow-batched), modest local
shuffle partitions (overridable per deployment).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "polars_ds_extension_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sp = shuffle_partitions or int(os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", cpus))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Crash forensics (r12: the driver bench died with "Python
        # worker exited unexpectedly (crashed)" and NO traceback —
        # stage 1431, never diagnosed). Both faulthandler confs make
        # the next worker death name its UDF and line; overhead is one
        # signal-handler registration per worker.
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled",
                "true")
        # Bound Arrow batches on the pandas-UDF paths: the default
        # 10000-row batches put ~10k texts + their shingle-hash/
        # signature intermediates in flight PER WORKER × 32 workers —
        # the prime suspect for the r12 worker OOM under host memory
        # pressure. 4096 balances the two measured regimes: 2048
        # regressed the IVF-assignment kernel ~1.7× at the 1M-vector
        # spot (490 numpy calls whose ~185 MFLOP matmul no longer
        # amortized the per-batch fixed cost: 52.1 s vs 30.2 s at
        # 10000; 4096 measured 30.4 s — full recovery), while the
        # text/shingle kernels are neutral-to-faster with smaller
        # batches (minhash 100×: 172 s at 2048 vs 194 s at 10000).
        # Value-neutral by construction: every kernel behind this
        # boundary is per-row (signatures, assignments, distances) —
        # batch size changes granularity, never results.
        # Env-overridable per deployment.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "4096"))
        # InferFiltersFromGenerate turns explode(expr) into
        # size(expr)>0 AND expr IS NOT NULL and PUSHES that filter
        # below the projection — duplicating the full evaluation of
        # the exploded expression. For this engine's plans the exploded
        # column is routinely an Arrow-UDF result (minhash bands, SRP
        # signatures) or a wide HOF chain (n-gram/shingle transforms),
        # so the "free" filter re-runs the most expensive stage of the
        # query (measured: banding UDF + explode 4.8s -> 0.66s at
        # sf0.1 with the rule off), while the filter itself prunes
        # nothing (the arrays are non-null by construction). Same
        # pathology class as SPARK-36715.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # test parquet writes TIMESTAMP(NANOS); read as long then convert
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode: the driver JVM IS the executor (32 task threads on
        # this heap). A/B at sf0.1 over the full catalog: 8g = 142s vs
        # 32g = 183s — the larger heap LOSES (longer G1 pauses + lazy
        # first-touch page faults in the VM). Keep it modest locally;
        # cluster deployments size executors via spark.executor.memory.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Throughput GC for the batch-analytics profile: A/B over the
        # full 102-query catalog at sf0.1 (back-to-back, same machine)
        # ParallelGC 97s vs default G1 112s — and the random multi-second
        # pause spikes on UDF-heavy queries disappeared with it.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC"))
        .config("spark.ui.enabled", "false")
        # DataFrame call-site capture off. With it on, every wrapped
        # pyspark.sql.functions call and Column method makes ~5 py4j
        # round trips (active session, JVM class lookup, conf read,
        # PySparkCurrentOrigin.set/.clear) and walks the Python stack;
        # PySpark documents the flag as existing "to reduce performance
        # slowdown". Counted over warm perfbench expr_udf passes (sf0.1,
        # 4 cores, memoized table schemas): query construction makes
        # 4,331–4,481 round trips per pass with it on, 1,800–1,937 off
        # (regression_metrics 951 → 261, ttest 475 → 145). Cost: a
        # runtime expression error's DataFrame query context loses its
        # `"x" was called from file:line` fragment; the exception class
        # and message are unchanged. To get the fragment back, build the
        # session with this conf "true" before the process's first
        # Column call: PySpark reads the flag once per process and
        # caches it (pyspark.errors.utils.is_debugging_enabled).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
