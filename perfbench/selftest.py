"""Benchmark self-test at tiny size.

    python3 perfbench/selftest.py

Runs every workload of ``BENCHMARK.json`` once untraced and once traced
with ``--tiny`` (a corpus a tenth of the benchmark's, a handful of
files) and checks that each run exits 0 and prints, as its last line, a
correct result naming exactly the declared end-to-end (untraced) or
per-layer (traced) metrics with their units. Then checks that the
benchmark refuses to run outside a checkout. Exits 1 on any mismatch.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def run_one(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "2",
        "--trace", str(trace), "--tiny",
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    label = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{label}: result keys {sorted(result)}")
    if result["correct"] is not True or result["failed"] != 0 or result["attempted"] < 1:
        problems.append(f"{label}: not a clean run: {result}")
    declared = spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(
            f"{label}: missing {sorted(set(want) - set(got))}, "
            f"undeclared {sorted(set(got) - set(want))}, "
            f"wrong units {sorted(k for k in want if k in got and got[k] != want[k])}"
        )
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            problems.append(f"{label}: {k} is not a number")
    if not trace:
        zero = [k for k, v in result["metrics"].items() if v["value"] == 0]
        if zero:
            problems.append(f"{label}: end-to-end metrics read 0: {zero}")
    return problems


def refuses_outside_checkout(spec: dict) -> list[str]:
    """A directory holding only BENCHMARK.json and the benchmark files
    must make the benchmark fail without printing a result."""
    with tempfile.TemporaryDirectory(dir=os.getcwd(), prefix=".perfbench_bare_") as bare:
        shutil.copy("BENCHMARK.json", bare)
        for p in spec["paths"]:
            shutil.copytree(p, os.path.join(bare, p), ignore=shutil.ignore_patterns("__pycache__"))
        cmd = spec["command"] + ["--workload", spec["workloads"][0]["name"], "--seed", "1",
                                 "--seconds", "1", "--trace", "0"]
        proc = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}"]
    return []


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    problems = refuses_outside_checkout(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems += run_one(spec, w["name"], trace)
            print(f"{w['name']} trace={trace}: done", file=sys.stderr)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
