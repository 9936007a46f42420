"""Self-test of the benchmark: every workload, one warm pass on the
smallest test tables, untraced and traced.

    python3 perfbench/selftest.py

Run it from the repository root. It checks that each run exits 0 and
ends with the result line, that the metric names and units printed
match BENCHMARK.json, that every metric is also printed on its own line
with its unit, that the summary metrics (`fail_frac`, `query_p90_s`,
`peak_rss_mb`) are printed too, and two predictions of the layer census:
`queries.build_share` above one half on driver_state, and Python UDF
time on expr_udf.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench.metrics import SUMMARY  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def smallest_tables() -> str:
    """The sf0.001 tables, where TESTDATA.md records them."""
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        return re.search(r"^\|\s*0\.001\s*\|\s*`([^`]+)`", f.read(),
                         re.M).group(1)


def check_run(workload: str, trace: int, spec: dict, data: str) -> list[str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "1", "--seconds", "0.01", "--trace", str(trace),
           "--data", data]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    tag = f"{workload} trace={trace}"
    if p.returncode != 0:
        return [f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}"]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{tag}: result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0:
        errors.append(f"{tag}: correct={result.get('correct')} "
                      f"failed={result.get('failed')}")
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        errors.append(f"{tag}: metrics differ from BENCHMARK.json: "
                      f"missing {sorted(set(want) - set(got))}, "
                      f"extra {sorted(set(got) - set(want))}, units "
                      f"{sorted(k for k in want if k in got and got[k] != want[k])}")
    for name, unit in {**want, **SUMMARY}.items():
        if not any(re.fullmatch(rf"{workload} {re.escape(name)} = \S+ "
                                rf"{re.escape(unit)}", ln) for ln in lines):
            errors.append(f"{tag}: no line printing {name} in {unit}")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    if trace and workload == "driver_state" and not m["queries.build_share"] > 0.5:
        errors.append(f"{tag}: queries.build_share {m['queries.build_share']}"
                      " is not above one half")
    if trace and workload == "expr_udf" and not m["udf.py_total_s"] > 0:
        errors.append(f"{tag}: udf.py_total_s {m['udf.py_total_s']} is not "
                      "above 0")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    data = smallest_tables()
    names = [w["name"] for w in spec["workloads"]]
    errors = []
    if sorted(names) != sorted(WORKLOADS):
        errors.append(f"BENCHMARK.json workloads {names} != {sorted(WORKLOADS)}")
    for w in names:
        for trace in (0, 1):
            errs = check_run(w, trace, spec, data)
            print(f"{'ok  ' if not errs else 'FAIL'} {w} trace={trace}",
                  flush=True)
            errors += errs
    for e in errors:
        print(e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
