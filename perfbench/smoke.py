#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload once at the tiny size (sf0.001 tables, a few MB of
text) with tracing on, and checks that:

* the run exits 0 and its last stdout line is the result object with
  ``correct`` true and no failed executions;
* every end-to-end metric named in BENCHMARK.json is printed in the
  report with its unit, and ``failed_frac`` is 0;
* every per-layer metric named in BENCHMARK.json is in the result object
  with its unit;
* tracing adds no Spark jobs: ``plans.jobs`` is 0, the run's tracing
  check passes (no jobs between executions either) and, on the workloads
  BENCHMARK.json lists, every item runs the same build + exec jobs per
  execution traced as untraced.

Then it checks that the benchmark refuses to run, with a non-zero exit
code and no result, from a directory that holds only BENCHMARK.json and
the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1", "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def check_workload(spec: dict, workload: str) -> list[str]:
    p = run(ROOT, workload)
    if p.returncode != 0:
        return [f"{workload}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{workload}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        errs.append(f"{workload}: correct={result['correct']} "
                    f"failed={result['failed']} attempted={result['attempted']}")
    report = "\n".join(lines[:-1])
    for m in spec["end_to_end"] + [{"name": "failed_frac", "unit": "ratio"}]:
        hit = re.search(rf"^\s+{re.escape(m['name'])}\s+(\S+) {re.escape(m['unit'])}$",
                        report, re.M)
        if not hit:
            errs.append(f"{workload}: end-to-end {m['name']} [{m['unit']}] not printed")
        elif m["name"] == "failed_frac" and float(hit.group(1)) != 0:
            errs.append(f"{workload}: failed_frac {hit.group(1)}")
    for m in spec["per_layer"]:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"]:
            errs.append(f"{workload}: per-layer {m['name']} [{m['unit']}] got {got}")
    if result["metrics"].get("plans.jobs", {}).get("value") != 0:
        errs.append(f"{workload}: forced planning ran jobs")
    check = re.search(r"^tracing check: .*$", report, re.M)
    if not check or not check.group(0).startswith("tracing check: PASS "):
        errs.append(f"{workload}: tracing added jobs: "
                    f"{check.group(0) if check else 'no tracing check line'}")
    listed = {w["name"] for w in spec["workloads"]}
    if workload in listed and not re.search(
            r"^build\+exec jobs per execution, traced vs untraced: equal", report, re.M):
        errs.append(f"{workload}: job counts differ traced vs untraced")
    print(f"{workload}: {'ok' if not errs else 'FAILED'}", flush=True)
    return errs


def check_refuses_without_package() -> list[str]:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(d, "overhead_mix")
    if p.returncode == 0 or p.stdout.strip():
        return [f"bare directory: exit {p.returncode}, stdout {p.stdout[-200:]!r}"]
    print("bare directory: refused, ok", flush=True)
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    errs = check_refuses_without_package()
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS  # every workload, listed or not
    for name in WORKLOADS:
        errs += check_workload(spec, name)
    for e in errs:
        print(e, file=sys.stderr)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
