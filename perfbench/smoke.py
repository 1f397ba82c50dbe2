#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input size.

    python3 perfbench/smoke.py

Runs every workload in BENCHMARK.json untraced and traced, and checks
that the last stdout line is the result object with every end-to-end (or
per-layer) metric under its recorded unit, that no output failed its
check, and that end-to-end metrics are never 0. Then runs the benchmark
in a directory holding only BENCHMARK.json and perfbench/, where it must
exit non-zero without printing a result. Exits 1 on the first problem.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def check_result(spec: dict, workload: str, trace: int) -> list:
    proc = run(ROOT, workload, trace)
    if proc.returncode != 0:
        return [f"exit code {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not (result["correct"] and result["failed"] == 0 and result["attempted"] >= 1):
        problems.append(f"checks: correct={result['correct']} failed={result['failed']} "
                        f"attempted={result['attempted']}")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    if set(got) != set(wanted):
        problems.append(f"metric names differ: {sorted(set(got) ^ set(wanted))}")
    for name, unit in wanted.items():
        m = got.get(name, {})
        value = m.get("value")
        if m.get("unit") != unit or not isinstance(value, float) or not math.isfinite(value):
            problems.append(f"{name}: {m}")
        elif not trace and value == 0:
            problems.append(f"{name} is 0")
        if f"{name} = " not in proc.stdout:
            problems.append(f"{name} not printed by name")
    return problems


def check_bare_directory() -> list:
    """Without the engine's sources the benchmark must fail, not report."""
    bare = os.path.join(ROOT, "perfbench", ".data", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".data", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = run(bare, "extract", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode == 0 or (lines and lines[-1].startswith("{")):
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-300:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems = check_result(spec, w["name"], trace)
            print(f"{w['name']} trace={trace}: {'ok' if not problems else problems}")
            failures += bool(problems)
    problems = check_bare_directory()
    print(f"bare directory: {'ok' if not problems else problems}")
    failures += bool(problems)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
