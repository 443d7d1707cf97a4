#!/usr/bin/env python3
"""Smoke test for the benchmark. Run from the root of a checkout:

    python3 perfbench/smoke.py

For every workload, with the shortest window (``--seconds 0``): one
untraced run (two timed passes) and one traced run (four passes,
traced and untraced in ABBA order). Asserts that the last
stdout line is the result object, that every metric BENCHMARK.json
names is printed with its unit, that no operation failed, and that
every Spark job of the traced passes maps to an operation. Finally
checks that the benchmark refuses to run (non-zero exit, no result)
in a directory that holds only BENCHMARK.json and perfbench/.
Takes a few minutes: each run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def check_result(proc: subprocess.CompletedProcess, expected: dict) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == expected, f"metrics {got} != {expected}"
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    common = ("--seed", "7", "--seconds", "0")
    for w in spec["workloads"]:
        name = w["name"]
        check_result(run(ROOT, "--workload", name, *common, "--trace", "0"),
                     e2e)
        traced = check_result(run(ROOT, "--workload", name, *common,
                                  "--trace", "1"), layers)
        m = traced["metrics"]
        assert m["trace.unattributed_jobs"]["value"] == 0, m
        assert m["exec.jobs"]["value"] > 0 and m["exec.stages"]["value"] > 0, m
        print(f"smoke: {name} ok", flush=True)

    work = os.path.join(ROOT, ".perfbench_work")
    bare = os.path.join(work, "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(bare, "--workload", spec["workloads"][0]["name"], *common)
        assert proc.returncode != 0 and not proc.stdout.strip(), proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(work)
        except OSError:
            pass  # a benchmark run still uses it
    print("smoke: bare directory refused ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
