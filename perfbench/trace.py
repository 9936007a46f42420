"""Traced runs: spans around calls into the engine's layers, Spark jobs
charged to spans through a job tag, and readers for Spark's status stores.

Everything here is measured from outside the engine. `Tracer.install`
wraps the public functions (and public methods of public classes) of
each layer module, `sources.load_table`, and the pyspark driver actions
(`collect`, `first`, `head`, `take`, `toPandas`, `count`); `uninstall`
puts the originals back. Only the benchmark's main thread records
spans: calls made from helper threads run unwrapped, so the Spark jobs
they launch carry no span tag and are counted as unattributed.

A span is `[name, start, end, parent, query_execution]`. Spans stay in
memory and are written out with the run's record when it ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import re
import sys
import threading
import time
from collections import defaultdict

from pyspark.java_gateway import ensure_callback_server_started

PKG = "polars_ds_extension_spark"
TAG_PREFIX = "perfbench-span-"
TAGS_PROPERTY = "spark.job.tags"

# The layers, named after the engine's modules. Fixed here (not
# discovered) so the printed metric names always match BENCHMARK.json;
# a module that no longer exists reports zeros.
LAYER_MODULES = (
    ["functions." + m for m in (
        "diagnosis", "eda", "eda_plots", "expander", "iters", "linear",
        "metrics", "models", "num", "sample", "stats", "string_", "ts")]
    + ["operators." + m for m in (
        "bpe", "cdc", "cluster", "dedup", "embedding", "graph", "knn",
        "linkage", "multimodal", "retrieval", "temporal", "text")]
    + ["plans.ranks", "plans.skew", "streaming.ops", "pipeline"]
)
PIPELINE_MODULES = ("blueprint", "pipeline", "steps", "transforms")
DRIVER_ACTIONS = ("collect", "first", "head", "take", "toPandas", "count")

# Python-boundary SQL metrics, by the display name Spark gives them.
UDF_SQL_METRICS = {
    "time to run Python workers": "py_total_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "number of output rows": "rows_received",
}
PYTHON_NODE = re.compile(r"Python|Pandas|MapInArrow")
_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}
_TOTAL = re.compile(r"^\s*([0-9][0-9,.]*)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric value such as ``"12.5 MiB"`` or
    ``"total (min, med, max (stageId: taskId))\\n1.2 s (0 ms, ...)"``."""
    lines = [ln for ln in str(text).splitlines()
             if ln.strip() and not ln.lstrip().startswith("total")]
    if not lines:
        return 0.0
    m = _TOTAL.match(lines[0])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _newer(items: list, key, hi) -> list:
    """The items whose key exceeds `hi`, newest first, reading keys from
    the newest end only (status-store lists are sorted by id)."""
    if len(items) > 1 and key(items[0]) > key(items[-1]):
        items = items[::-1]
    out = []
    for it in reversed(items):
        if key(it) <= hi:
            break
        out.append(it)
    return out


def _stage_list(sc, store) -> list:
    """Every stage the status store holds, summaries off."""
    jvm = sc._jvm
    return _seq(store.stageList(jvm.java.util.ArrayList(), False, False,
                                sc._gateway.new_array(jvm.double, 0),
                                jvm.java.util.ArrayList()))


def _layer_module_objects() -> dict[str, list]:
    """{layer: [module objects]} for the layers that import."""
    out = {}
    for layer in LAYER_MODULES:
        names = ([f"{PKG}.pipeline.{m}" for m in PIPELINE_MODULES]
                 if layer == "pipeline" else [f"{PKG}.{layer}"])
        mods = []
        for n in names:
            try:
                mods.append(importlib.import_module(n))
            except ImportError:
                pass
        out[layer] = mods
    return out


def _public_callables(mod):
    """(owner, attribute, original) for the public functions defined in
    `mod` and the public methods of its public classes. Pandas UDF
    objects are skipped: calling one only builds a Column."""
    for name, obj in list(vars(mod).items()):
        if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
            continue
        if inspect.isfunction(obj) and not hasattr(obj, "evalType"):
            yield mod, name, obj
        elif inspect.isclass(obj):
            for mname, m in list(vars(obj).items()):
                if not mname.startswith("_") and (
                        inspect.isfunction(m)
                        or isinstance(m, (staticmethod, classmethod))):
                    yield obj, mname, m


class StreamProbe:
    """Streaming progress, counted while `on` is set. Registered on the
    JVM as a py4j proxy: pyspark's own listener wrapper fails to decode
    the start event of a query launched under a job tag."""

    def __init__(self):
        self.on = False
        self.batches = 0
        self.batch_s = 0.0
        self.state_rows: dict[str, int] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        if not self.on:
            return
        p = event.progress()
        self.batches += 1
        self.batch_s += (p.durationMs().getOrDefault("triggerExecution", 0)
                         / 1e3)
        self.state_rows[str(p.runId().toString())] = sum(
            op.numRowsTotal() for op in p.stateOperators())

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    class Java:
        implements = ["org.apache.spark.sql.streaming.PythonStreamingQueryListener"]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc
        self.main = threading.get_ident()
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.qx = -1                 # current query execution
        self.build_depth = 0
        self.in_action = False
        self.collects = 0
        self.collect_rows = 0
        self.collect_s = 0.0
        self.cache = {"pins_live_max": 0, "mem_bytes_peak": 0,
                      "disk_bytes_peak": 0, "rdds_peak": 0}
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.udf = defaultdict(float)
        self._seen_exec = -1
        self._seen_acc: set[int] = set()
        self._patches: list[tuple] = []
        self.stream = StreamProbe()
        ensure_callback_server_started(self.sc._gateway)
        streaming = self.sc._jvm.org.apache.spark.sql.streaming
        self._listener = streaming.PythonStreamingQueryListenerWrapper(
            self.stream)
        spark._jsparkSession.streams().addListener(self._listener)
        self.mark()

    # ------------------------------------------------------------ spans
    def _tag(self, sid) -> None:
        self.jsc.setLocalProperty(
            TAGS_PROPERTY, None if sid is None else f"{TAG_PREFIX}{sid}")

    def span(self, name: str):
        return _Span(self, name)

    # --------------------------------------------------------- patching
    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            if threading.get_ident() != tracer.main:
                return fn(*a, **k)
            with tracer.span(name):
                return fn(*a, **k)
        return traced

    def _wrap_action(self, fn):
        tracer = self

        @functools.wraps(fn)
        def counted(*a, **k):
            if (threading.get_ident() != tracer.main or tracer.in_action
                    or tracer.build_depth == 0):
                return fn(*a, **k)
            tracer.in_action = True
            t0 = time.perf_counter()
            try:
                out = fn(*a, **k)
            finally:
                tracer.in_action = False
                tracer.collect_s += time.perf_counter() - t0
                tracer.collects += 1
            tracer.collect_rows += (len(out) if hasattr(out, "__len__")
                                    and not isinstance(out, tuple) else 1)
            return out
        return counted

    def install(self) -> None:
        """Wrap every layer callable, in every namespace that holds it."""
        if self._patches:
            return
        functions = {}               # id(original) -> (original, wrapper)
        for layer, mods in _layer_module_objects().items():
            for mod in mods:
                for owner, attr, orig in _public_callables(mod):
                    if isinstance(orig, (staticmethod, classmethod)):
                        self._patch(owner, attr, orig,
                                    type(orig)(self._wrap(orig.__func__, layer)))
                    elif owner is mod:
                        functions[id(orig)] = (orig, self._wrap(orig, layer))
                    else:
                        self._patch(owner, attr, orig, self._wrap(orig, layer))
        load = importlib.import_module(f"{PKG}.sources.tables").load_table
        functions[id(load)] = (load, self._wrap(load, "sources"))
        # the defining module, re-exports and `from x import f` bindings
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                hit = functions.get(id(val))
                if hit is not None and hit[0] is val:
                    self._patch(mod, attr, val, hit[1])
        df_cls = type(self.spark.range(1))
        for name in DRIVER_ACTIONS:
            orig = df_cls.__dict__.get(name)
            if orig is not None:
                self._patch(df_cls, name, orig, self._wrap_action(orig))

    def _patch(self, owner, attr, orig, new) -> None:
        setattr(owner, attr, new)
        self._patches.append((owner, attr, orig, new))

    def uninstall(self) -> None:
        for owner, attr, orig, _new in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------- status-store reads
    def _drain(self) -> None:
        self.jsc.sc().listenerBus().waitUntilEmpty(30000)

    def mark(self) -> None:
        """Forget everything Spark recorded so far (set-up, cold pass)."""
        self._drain()
        store = self.jsc.sc().statusStore()
        jobs, stages = _seq(store.jobsList(None)), _stage_list(self.sc, store)
        self._job_hi = max((j.jobId() for j in jobs), default=-1)
        self._stage_hi = max((s.stageId() for s in stages), default=-1)
        execs = _seq(self._sql_store().executionsList())
        self._seen_exec = max((e.executionId() for e in execs), default=-1)

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def harvest(self) -> None:
        """Read the jobs, stages and SQL executions Spark finished since
        the last call; charge each job to the span whose tag it carries."""
        self._drain()
        store = self.jsc.sc().statusStore()
        for j in _newer(_seq(store.jobsList(None)), lambda j: j.jobId(),
                        self._job_hi):
            jid = j.jobId()
            tags = [t for t in str(j.jobTags().mkString(",")).split(",")
                    if t.startswith(TAG_PREFIX)]
            self.jobs[jid] = {
                "span": int(tags[0][len(TAG_PREFIX):]) if tags else None,
                "stages": [int(s) for s in str(j.stageIds().mkString(",")).split(",") if s],
                "skipped": j.numSkippedStages(),
            }
        self._job_hi = max([self._job_hi, *self.jobs])
        for s in _newer(_stage_list(self.sc, store), lambda s: s.stageId(),
                        self._stage_hi):
            sid = s.stageId()
            self.stages.setdefault(sid, {
                "status": str(s.status()),
                "tasks": s.numCompleteTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "input_bytes": s.inputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        self._stage_hi = max([self._stage_hi, *self.stages])
        sql = self._sql_store()
        hi = self._seen_exec
        for e in _newer(_seq(sql.executionsList()), lambda e: e.executionId(),
                        self._seen_exec):
            eid = e.executionId()
            hi = max(hi, eid)
            values = None
            for node in _seq(sql.planGraph(eid).allNodes()):
                if not PYTHON_NODE.search(node.name()):
                    continue
                metrics = _seq(node.metrics())
                names = [m.name() for m in metrics]
                if values is None:
                    values = sql.executionMetrics(eid)
                for m, name in zip(metrics, names):
                    key = UDF_SQL_METRICS.get(name)
                    acc = m.accumulatorId()
                    if key is None or acc in self._seen_acc:
                        continue
                    # a node can appear several times in one plan graph,
                    # and a cached plan's nodes in later executions too
                    self._seen_acc.add(acc)
                    v = values.get(acc)
                    if v.isDefined():
                        self.udf[key] += parse_sql_metric(v.get())
        self._seen_exec = hi

    def sample_cache(self) -> None:
        utils = sys.modules.get(f"{PKG}._utils")
        pins = len(getattr(utils, "_PINNED", ()))   # 0 once pins are scoped
        rdds = _seq(self.jsc.sc().statusStore().rddList(True))
        c = self.cache
        c["pins_live_max"] = max(c["pins_live_max"], pins)
        c["rdds_peak"] = max(c["rdds_peak"], len(rdds))
        c["mem_bytes_peak"] = max(c["mem_bytes_peak"],
                                  sum(r.memoryUsed() for r in rdds))
        c["disk_bytes_peak"] = max(c["disk_bytes_peak"],
                                   sum(r.diskUsed() for r in rdds))

    def close(self) -> None:
        self.uninstall()
        self.spark._jsparkSession.streams().removeListener(self._listener)

    # ------------------------------------------------------- reductions
    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        child = defaultdict(float)
        for name, t0, t1, parent, _qx in self.spans:
            if parent >= 0 and t1 is not None:
                child[parent] += t1 - t0
        out = defaultdict(float)
        for i, (name, t0, t1, _p, _qx) in enumerate(self.spans):
            if t1 is not None:
                out[name] += (t1 - t0) - child[i]
        return out

    def under(self, kinds: set[str]) -> set[int]:
        """Span ids that are, or descend from, a span named in `kinds`."""
        inside: set[int] = set()
        for i, (name, _t0, _t1, parent, _qx) in enumerate(self.spans):
            if name in kinds or parent in inside:
                inside.add(i)
        return inside


class _Span:
    __slots__ = ("t", "name", "rec")

    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        sid = len(t.spans)
        self.rec = [self.name, time.perf_counter(), None,
                    t.stack[-1] if t.stack else -1, t.qx]
        t.spans.append(self.rec)
        t.stack.append(sid)
        if self.name == "queries.build":
            t.build_depth += 1
        t._tag(sid)
        return self

    def __exit__(self, *exc):
        t = self.t
        self.rec[2] = time.perf_counter()
        t.stack.pop()
        if self.name == "queries.build":
            t.build_depth -= 1
        t._tag(t.stack[-1] if t.stack else None)
        return False
