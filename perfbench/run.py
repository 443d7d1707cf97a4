#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 20 --trace 0

Generates the corpus for ``--seed``, starts the client (``client.py``)
in a fresh process with per-run scratch directories, waits for it,
stops every process it left, deletes the scratch area and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (see README.md). Exits non-zero
without a result when the engine's sources are missing or the client
fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import datagen
from hostclock import Stopwatch
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
CLIENT_TIMEOUT_S = 170
#: per-run scratch area, under the checkout (listed in .gitignore)
WORK_ROOT = ".perfbench_work"
#: scale factor of the generated corpus (17 MB of parquet)
SF = 0.1

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_gmean_s": "s"}
TAIL_BEYOND = 10


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # state ppid pgrp session ...
            pids.append(int(d))
    return pids


def _reap_session(sid: int, grace_s: float = 10.0) -> None:
    """Wait for every process of the client's session to end; kill
    what is still there after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        pids = _session_pids(sid)
        if not pids:
            return
        if time.monotonic() > deadline and not killed:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + grace_s
        elif time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} survived SIGKILL")
        time.sleep(0.1)


def op_tail(lat: list[float]) -> str:
    """The latency at the highest percentile that has at least
    ``TAIL_BEYOND`` samples above it, with that percentile and the
    sample count; context only, since a run rarely has enough samples
    for it to lie above the median."""
    n = len(lat)
    if n <= TAIL_BEYOND:
        return f"op_tail_s=n/a (n={n})"
    pct = 100.0 * (n - TAIL_BEYOND) / n
    return (f"op_tail_s={sorted(lat)[n - TAIL_BEYOND - 1]:.3f} "
            f"(p{pct:.0f}, n={n})")


def by_op(passes: list[dict], key: str = "ops") -> dict[str, list[float]]:
    """Operation name -> its latencies over ``passes``."""
    out: dict[str, list[float]] = {}
    for p in passes:
        for name, lat in zip(p["names"], p[key]):
            out.setdefault(name, []).append(lat)
    return out


def op_gmean(passes: list[dict], key: str = "ops") -> float:
    """Geometric mean over the operations of each one's median
    latency: every operation weighs alike, and no single operation's
    noise decides the value (the median over all samples of a
    five-operation workload is the middle operation's latency)."""
    return statistics.geometric_mean(
        statistics.median(v) for v in by_op(passes, key).values())


def end_to_end(result: dict) -> tuple[dict, str]:
    passes = [p for p in result["passes"] if not p["traced"]]
    lat = [x for p in passes for x in p["ops"]]
    values = {
        "setup_s": result["setup_s"],
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "op_gmean_s": op_gmean(passes),
    }
    note = (f"passes={len(passes)} ops={len(lat)} "
            f"op_p50_s={statistics.median(lat):.3f} {op_tail(lat)} wall: "
            f"setup_s={result['setup_wall_s']:.3f} "
            f"pass_s={statistics.median(sum(p['wall']) for p in passes):.3f} "
            f"op_gmean_s={op_gmean(passes, 'wall'):.3f} peak_rss_mb: " + " ".join(
                f"{k}={v:.0f}" for k, v in result["peak_rss_parts_mb"].items())
            + " steal_share: "
            f"setup={result['setup_steal_share']:.2f} passes=" + ",".join(
                f"{p['steal_share']:.2f}" for p in passes) + " " + " ".join(
                f"{k}={v:.2f}" for k, v in result["setup_parts"].items()))
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}, note


def per_layer(result: dict) -> tuple[dict, str]:
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    layers = result["layers"]
    metrics = {m["name"]: {"value": float(layers[m["name"]]), "unit": m["unit"]}
               for m in spec["per_layer"]}
    n = sum(1 for p in result["passes"] if p["traced"])
    return metrics, f"traced_passes={n}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="hearthstats engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hearthstats_spark", "queries",
                                       "registry.py")):
        print("perfbench: hearthstats_spark/ not found; run from the root "
              "of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import bench

    work = os.path.join(root, WORK_ROOT, f"run-{os.getpid()}")
    dirs = {k: os.path.join(work, k)
            for k in ("data", "tmp", "local", "ann", "cwd", "eventlog")}
    try:
        for d in dirs.values():
            os.makedirs(d)
        datagen.write_corpus(dirs["data"], args.seed, SF)
        steal_before = bench.steal_probe()
        env = dict(os.environ)
        env.update({
            # Spark's Python workers import hearthstats_spark by name
            "PYTHONPATH": os.pathsep.join(
                [root] + [p for p in [env.get("PYTHONPATH")] if p]),
            "TMPDIR": dirs["tmp"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            "SPARK_GRAFT_ANN_CACHE_DIR": dirs["ann"],
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} "
                                 "-XX:-UsePerfData",
        })
        out_path = os.path.join(work, "result.json")
        log_path = os.path.join(work, "client.log")
        cmd = [sys.executable, os.path.join(HERE, "client.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--data", dirs["data"], "--event-log", dirs["eventlog"],
               "--out", out_path]
        with open(log_path, "w") as log:
            spawn = Stopwatch()
            proc = subprocess.Popen(cmd + ["--spawn", spawn.encode()],
                                    cwd=dirs["cwd"], env=env, stdout=log,
                                    stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=CLIENT_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                rc = proc.wait()
            finally:
                _reap_session(proc.pid)
        if rc != 0:
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            print(f"perfbench: client exited with {rc}", file=sys.stderr)
            return 1
        with open(out_path) as fh:
            result = json.load(fh)
        steal_after = bench.steal_probe()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, WORK_ROOT))
        except OSError:
            pass  # another run still uses it

    metrics, note = (per_layer if args.trace else end_to_end)(result)
    for failure in result["failures"]:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)
    print("perfbench: per-operation latencies (steal-adjusted s): " + " ".join(
        f"{k}=" + ",".join(f"{x:.3f}" for x in v)
        for k, v in sorted(by_op(result["passes"]).items())), file=sys.stderr)
    print(f"perfbench: workload={args.workload} seed={args.seed} {note} "
          f"steal_probe_s before={steal_before} after={steal_after}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
