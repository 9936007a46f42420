"""One benchmark run: set-up, a cold pass, warm passes for the run's
time budget, then an untimed oracle check.

A closed loop: one client thread in one process issues the workload's
queries one after another against `local[nproc]`. A query's wall is its
construction (the catalog callable) plus its forcing action, a write to
the `noop` sink, which produces every output row (a `count()` lets
Catalyst prune projected work). The seed permutes query order within
each pass; the engine only ever sees the fixed tables.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time

import pandas as pd

from .workloads import Workload

# no warm pass starts this long after set-up began, so a run ends in 180 s
RUN_CAP_S = 120.0


def process_age_s() -> float:
    """Seconds since this process started (Linux /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _warm_udf(v: pd.Series) -> pd.Series:
    return v * 1.0


class Run:
    def __init__(self, workload: Workload, data: str, seed: int,
                 seconds: float, trace: bool):
        self.w, self.data, self.seed = workload, data, seed
        self.seconds, self.trace = seconds, trace
        self.rng = random.Random(seed)
        self.attempted = 0
        self.raised = 0
        self.mismatched: list[str] = []
        self.errors: list[str] = []
        self.spark = None
        self.tracer = None

    # ---------------------------------------------------------- set-up
    def setup(self) -> dict:
        """Process start to ready session: imports, `get_spark`, the
        workload's table footers and one pandas-UDF warm job."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import DoubleType

        from polars_ds_extension_spark.session import get_spark
        from polars_ds_extension_spark.sources import load_table

        import_s = process_age_s()
        t0 = time.perf_counter()
        spark = get_spark(app="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        for t in self.w.tables:
            load_table(spark, self.data, t)
        t2 = time.perf_counter()
        n = spark.sparkContext.defaultParallelism
        spark.range(0, n * 256, 1, n).select(
            pandas_udf(_warm_udf, DoubleType())(F.col("id").cast("double"))
        ).write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        self.spark = spark
        return {"setup_s": import_s + (t3 - t0), "import_s": import_s,
                "session.start_s": t1 - t0, "session.footers_s": t2 - t1,
                "session.worker_warm_s": t3 - t2}

    # ---------------------------------------------------------- queries
    def _cleanup(self) -> None:
        """Drop what a query left cached, untimed. The engine's pin list
        and `release_pins` are slated to be replaced by scoped
        materialization, so they are optional here; `clearCache` is not."""
        from polars_ds_extension_spark import _utils

        release = getattr(_utils, "release_pins", None)
        if release is not None:
            release()
        self.spark.catalog.clearCache()

    def _one(self, fn, name: str, traced: bool) -> tuple[float, float] | None:
        """Build and force one query; (build_s, action_s), or None if it
        raised."""
        self.attempted += 1
        tr = self.tracer if traced else None
        try:
            t0 = time.perf_counter()
            if tr is None:
                df = fn(self.spark, self.data)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                build = t1 - t0
            else:
                with tr.span("queries.build") as sp:
                    df = fn(self.spark, self.data)
                build = sp.rec[2] - t0
                tr.sample_cache()          # untimed: pins live at the action
                t1 = time.perf_counter()
                with tr.span("queries.action"):
                    df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as ex:  # a failing query is a result, not a crash
            self.raised += 1
            self.errors.append(f"{name}: {type(ex).__name__}: {str(ex)[:300]}")
            out = None
        else:
            out = (build, t2 - t1)
        if tr is not None:
            tr.sample_cache()
        self._cleanup()
        if tr is not None:
            tr.harvest()
        return out

    def one_pass(self, traced: bool = False) -> list[tuple[str, float, float]]:
        from polars_ds_extension_spark import queries as catalog

        qs = catalog.queries()
        order = list(self.w.queries)
        self.rng.shuffle(order)
        out = []
        for name in order:
            if traced:
                self.tracer.qx += 1
            r = self._one(qs[name], name, traced)
            if r is not None:
                out.append((name, *r))
        return out

    # ----------------------------------------------------------- oracle
    def oracle_check(self) -> None:
        """Untimed: every workload query's result against its DuckDB
        oracle, compared the way scripts/check_oracles.py compares."""
        import duckdb

        from polars_ds_extension_spark import queries as catalog
        from polars_ds_extension_spark.sources import TABLES
        from scripts.check_oracles import canon, values_match

        qs, oracles = catalog.queries(), catalog.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for name in sorted(self.w.queries):
                self.attempted += 1
                try:
                    got = qs[name](self.spark, self.data).toPandas()
                    want = con.sql(oracles[name]).df()
                except Exception as ex:
                    self.raised += 1
                    self.errors.append(f"oracle {name}: {type(ex).__name__}: "
                                       f"{str(ex)[:300]}")
                    continue
                finally:
                    self._cleanup()
                ok, why = values_match(canon(got), canon(want))
                if not ok:
                    self.mismatched.append(f"{name}: {why}")
        finally:
            con.close()

    # -------------------------------------------------------------- run
    def execute(self) -> dict:
        t_start = time.perf_counter()
        rec = {"setup": self.setup()}
        self.setup_rec = rec["setup"]
        sc = self.spark.sparkContext
        rec["jvm_pid"] = sc._gateway.proc.pid
        rec["java"] = sc._jvm.System.getProperty("java.version")
        rec["master"] = sc.master

        cold = self.one_pass()
        rec["cold_pass_s"] = sum(b + a for _n, b, a in cold)
        if self.trace:
            rec["layers"] = self._traced_passes(t_start)
            rec["warm_passes"] = []
        else:
            t0 = time.perf_counter()
            passes = []
            while (time.perf_counter() - t0 < self.seconds
                   and time.perf_counter() - t_start < RUN_CAP_S):
                passes.append(self.one_pass())
            rec["warm_passes"] = passes
        # peak memory of the timed work, before the oracle check collects
        rec["rss_mb"] = {"jvm": vm_hwm_mb(rec["jvm_pid"]),
                         "driver": vm_hwm_mb("self")}
        rec["peak_rss_mb"] = sum(rec["rss_mb"].values())
        t0 = time.perf_counter()
        self.oracle_check()
        rec["oracle_check_s"] = time.perf_counter() - t0
        rec["wall_s"] = time.perf_counter() - t_start
        return rec

    def _traced_pass(self) -> tuple[list, float]:
        tr = self.tracer
        tr.install()
        tr.mark()
        tr.stream.on = True
        try:
            p = self.one_pass(traced=True)
        finally:
            tr.stream.on = False
            tr.uninstall()
        return p, sum(b + a for _n, b, a in p)

    def _traced_passes(self, t_start: float) -> dict:
        """Untraced and traced warm passes in turn, each pair in the
        opposite order to the last (passes still speed up as the JIT
        settles). The per-layer figures are per traced pass; the
        difference in query wall is the tracing overhead."""
        from .trace import Tracer

        self.tracer = tr = Tracer(self.spark)
        plain, traced = [], []
        t0 = time.perf_counter()
        try:
            while (time.perf_counter() - t0 < self.seconds
                   and time.perf_counter() - t_start < RUN_CAP_S):
                if len(traced) % 2:
                    traced.append(self._traced_pass())
                plain.append(sum(b + a for _n, b, a in self.one_pass()))
                if len(traced) < len(plain):
                    traced.append(self._traced_pass())
        finally:
            tr.close()
        return self._layers(tr, plain, traced)

    def _layers(self, tr, plain, traced) -> dict:
        from .trace import LAYER_MODULES

        n = len(traced)
        wall = sum(w for _p, w in traced)
        build_s = sum(b for p, _w in traced for _n, b, _a in p)
        action_s = sum(a for p, _w in traced for _n, _b, a in p)
        selfs = tr.self_times()
        build_spans = tr.under({"queries.build"})
        load_spans = tr.under({"sources"})
        stage_job = {}
        for jid in sorted(tr.jobs):
            for s in tr.jobs[jid]["stages"]:
                stage_job.setdefault(s, jid)
        ran = {s: d for s, d in tr.stages.items()
               if d["status"] != "SKIPPED"}

        def tasks_of(jids):
            return sum(d["tasks"] for s, d in ran.items()
                       if stage_job.get(s) in jids)

        def jobs_in(spans):
            return {j for j, d in tr.jobs.items() if d["span"] in spans}

        def total(key):
            return sum(d[key] for d in ran.values())

        cores = self.spark.sparkContext.defaultParallelism
        m = {
            "session.start_s": self.setup_rec["session.start_s"],
            "session.worker_warm_s": self.setup_rec["session.worker_warm_s"],
            "sources.load_calls": sum(1 for s in tr.spans if s[0] == "sources") / n,
            "sources.load_s": selfs.get("sources", 0.0) / n,
            "sources.load_jobs": len(jobs_in(load_spans)) / n,
            "sources.scan_bytes": total("input_bytes") / n,
            "queries.build_s": build_s / n,
            "queries.build_jobs": len(jobs_in(build_spans)) / n,
            "queries.build_tasks": tasks_of(jobs_in(build_spans)) / n,
            "queries.build_share": build_s / max(build_s + action_s, 1e-9),
            "queries.action_s": action_s / n,
        }
        for layer in LAYER_MODULES:
            ids = {i for i, s in enumerate(tr.spans) if s[0] == layer}
            m[f"{layer}.self_s"] = selfs.get(layer, 0.0) / n
            m[f"{layer}.jobs"] = len(jobs_in(ids)) / n
        m.update({
            "driver.collects": tr.collects / n,
            "driver.collect_rows": tr.collect_rows / n,
            "driver.collect_s": tr.collect_s / n,
            "spark.jobs": len(tr.jobs) / n,
            "spark.stages": len(ran) / n,
            "spark.stages_skipped": sum(d["skipped"] for d in tr.jobs.values()) / n,
            "spark.tasks": total("tasks") / n,
            "spark.executor_run_s": total("run_s") / n,
            "spark.executor_cpu_s": total("cpu_s") / n,
            "spark.gc_s": total("gc_s") / n,
            "spark.shuffle_read_bytes": total("shuffle_read_bytes") / n,
            "spark.shuffle_write_bytes": total("shuffle_write_bytes") / n,
            "spark.spill_bytes": total("spill_bytes") / n,
            "spark.core_idle_s": (wall * cores - total("run_s")) / n,
            "spark.failed_tasks": total("failed_tasks") / n,
            "spark.jobs_unattributed": sum(
                1 for d in tr.jobs.values() if d["span"] is None) / n,
        })
        for key in ("py_total_s", "boot_s", "init_s", "bytes_sent",
                    "bytes_received", "rows_received"):
            m[f"udf.{key}"] = tr.udf.get(key, 0.0) / n
        for key, v in tr.cache.items():
            m[f"cache.{key}"] = float(v)
        m.update({
            "streaming.batches": tr.stream.batches / n,
            "streaming.batch_s": tr.stream.batch_s / n,
            "streaming.state_rows": sum(tr.stream.state_rows.values()) / n,
            "trace.overhead_s": (wall / n - statistics.mean(plain)),
        })
        return {"metrics": m, "spans": tr.spans, "passes": n}

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        sys.stdout.flush()
