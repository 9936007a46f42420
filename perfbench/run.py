"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload expr_udf --seed 1 --seconds 24 --trace 0

Run it from the repository root: the engine is imported from the working
directory, and Spark's Python workers get the same import path. With
`--trace 0` the last stdout line carries the end-to-end metrics of
BENCHMARK.json, with `--trace 1` its per-layer metrics. Lines before it
record the host and every metric with its unit. The run's full record
(spans included) is written under `.perfbench/`.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import statistics
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)
NOTE = ("BENCH_r01-r16 and BENCH_LOCAL_* were taken at 32 cores with "
        "count()-forced queries; they are not a baseline for these figures")



def default_data() -> str | None:
    """The fixed sf0.1 tables, where TESTDATA.md records them."""
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
    except OSError:
        return None
    return m.group(1) if m else None


def _environment() -> None:
    """Pin the host before Spark starts: all cores, temporary space inside
    the checkout, and the engine importable from Spark's workers."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(OUT, "tmp")
    local = os.path.join(OUT, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "polars_ds_extension_spark")
    for d, _subdirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                           capture_output=True, text=True)
    except OSError:
        return None
    return r.stdout.strip() or None


def host_record(args, rec) -> dict:
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "data": args.data,
        "nproc": len(os.sched_getaffinity(0)), "master": rec["master"],
        "pyspark": pyspark.__version__, "java": rec["java"],
        "python": sys.version.split()[0], "commit": _commit(),
        "source_sha256": _source_digest(), "note": NOTE,
    }


def measured_passes(rec) -> list[list]:
    """The warm passes the metrics count. The first one still settles the
    JIT (it ran 10-20 % slower than the next), so it is left out when
    there are others."""
    passes = rec["warm_passes"]
    return passes[1:] if len(passes) > 1 else passes


def end_to_end(rec) -> dict:
    return {
        "setup_s": rec["setup"]["setup_s"],
        "queries_per_s": statistics.median(
            len(p) / sum(b + a for _n, b, a in p)
            for p in measured_passes(rec) if p),
    }


def steal_s() -> float:
    """CPU time the host gave to others, summed over this machine's CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def main(argv=None) -> int:
    from perfbench.metrics import END_TO_END, PER_LAYER, SUMMARY
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=None,
                    help="directory of the parquet tables (default: the "
                         "sf0.1 directory TESTDATA.md names)")
    args = ap.parse_args(argv)
    args.data = args.data or default_data()
    if not (os.path.isdir(os.path.join(ROOT, "polars_ds_extension_spark"))
            and args.data and os.path.isdir(args.data)):
        print("perfbench: run from the repository root, with its test "
              "tables present", file=sys.stderr)
        return 2

    _environment()
    from perfbench.harness import Run

    steal0 = steal_s()

    run = Run(WORKLOADS[args.workload], args.data, args.seed, args.seconds,
              bool(args.trace))
    try:
        rec = run.execute()
    finally:
        run.shutdown()

    failed = run.raised + len(run.mismatched)
    host = host_record(args, rec)
    walls = [b + a for p in measured_passes(rec) for _n, b, a in p]
    summary = {
        "cold_pass_s": rec["cold_pass_s"],
        "query_p50_s": statistics.median(walls) if walls else None,
        # a percentile needs ten samples beyond it
        "query_p90_s": (statistics.quantiles(walls, n=10)[-1]
                        if len(walls) >= 100 else None),
        "fail_frac": failed / run.attempted,
        "peak_rss_mb": rec["peak_rss_mb"],
        "host_steal_s": steal_s() - steal0,
        "raised": run.raised, "mismatched": len(run.mismatched),
        "warm_executions": len(walls),
        "warm_passes": [round(sum(b + a for _n, b, a in p), 3)
                        for p in rec["warm_passes"]],
        "setup": rec["setup"], "errors": run.errors,
        "mismatches": run.mismatched,
    }
    if args.trace:
        metrics = {k: {"value": rec["layers"]["metrics"][k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in end_to_end(rec).items()}
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(
        OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({"host": host, "summary": summary, "metrics": metrics,
                   "record": rec}, f, default=str)
    print(json.dumps({"host": host}))
    print(json.dumps({"summary": summary}))
    for k, unit in SUMMARY.items():
        v = summary[k]
        print(f"{args.workload} {k} = {'n/a' if v is None else f'{v:.6g}'} "
              f"{unit}")
    for k, v in metrics.items():
        print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
