#!/usr/bin/env python3
"""Smoke check of the benchmark itself, at a tiny scale.

    python3 perfbench/smoke.py

Runs every workload untraced and traced with ``--scale tiny`` and asserts
that the result line is well formed, that every end-to-end or per-layer
metric BENCHMARK.json names is present with its unit, and that every
output check passed.  Then checks that the benchmark fails, without a
result line, in a directory holding only BENCHMARK.json and perfbench/.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "4", "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(spec: dict, workload: str, trace: int) -> list[str]:
    proc = run(ROOT, workload, trace)
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{where}: result keys {sorted(result)}")
    if result["correct"] is not True or result["failed"] != 0 or result["attempted"] < 1:
        errs.append(f"{where}: correct={result['correct']} failed={result['failed']} attempted={result['attempted']}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        errs.append(f"{where}: metrics {sorted(set(got) ^ set(want))} differ from BENCHMARK.json")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            errs.append(f"{where}: {k} is not a number")
        elif not trace and not v["value"] > 0:
            errs.append(f"{where}: end-to-end {k} is {v['value']}")
    return errs


def check_bare() -> list[str]:
    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(bare, "ingest", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    last = (proc.stdout.strip().splitlines() or [""])[-1]
    if proc.returncode == 0 or '"metrics"' in last:
        return [f"bare directory: exit {proc.returncode}, last line {last!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errs = check_bare()
    for w in spec["workloads"]:
        for trace in (0, 1):
            errs += check_result(spec, w["name"], trace)
            print(f"{w['name']} --trace {trace}: done", flush=True)
    for e in errs:
        print("SMOKE FAILED:", e)
    print("smoke ok" if not errs else f"smoke: {len(errs)} failure(s)")
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
