"""One benchmark run: the single closed-loop client.

Started by ``run.py`` in a fresh process (its own session, scratch
directories and working directory). It builds the engine's session
on ``local[4]``, loads the query registry, runs one untimed cold
pass over the workload, then timed passes until the window is used
up, one operation at a time: an operation is the registered query
function call plus its sink action, and the next one starts only
after it returns. Every timed result is checked
right after its timing: ``q*`` results and those of streaming
operations with a batch twin against the DuckDB oracle, other ``s*``
results against their self-check columns. Results go to ``--out`` as
JSON.

Every interval is recorded as wall time and as steal-adjusted time
(``hostclock.py``).

With ``--trace 1`` the Spark event log is on, spans are recorded
around each layer's public functions, and traced passes alternate
with untraced ones so the tracing overhead can be read off the run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import random
import sys
import time
import traceback

import tracing
from hostclock import Stopwatch
from workloads import BATCH_TWIN, WORKLOADS, self_check

CORES = 4
#: fewest timed passes; a traced run needs four for its ABBA order
MIN_PASSES = 2
MIN_TRACED_PASSES = 4


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _self_checked(q) -> bool:
    """Side-effect operations return a summary row to self-check."""
    return q.name.startswith("s") and q.name not in BATCH_TWIN


class Client:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.tracer = tracing.Tracer() if args.trace else None
        self.rng = random.Random(args.seed)
        self.oracle: dict = {}
        self.failures: list[str] = []
        self.checked = {"oracle": 0, "oracle_mismatch": 0, "selfcheck": 0}

    # -- one operation -------------------------------------------------
    def _phase(self, op_key: str | None, phase: str):
        if op_key is None:
            return contextlib.nullcontext()
        self.spark.sparkContext.setJobGroup(
            tracing.job_group(op_key, phase), phase)
        return self.tracer.span(
            "queries.construct" if phase == "construct" else "exec.action")

    def run_op(self, q, op_key: str | None):
        """Returns ((wall s, adjusted s) or None on failure, result)."""
        if self.tracer is not None:
            self.tracer.op_key = op_key
        sw = Stopwatch()
        try:
            with self._phase(op_key, "construct"):
                df = q.fn(self.spark, self.args.data)
            with self._phase(op_key, "action"):
                if _self_checked(q):
                    result = [r.asDict() for r in df.collect()]
                else:
                    result = df.toPandas()
            wall, adjusted, _ = sw.read()
            return (wall, adjusted), result
        except Exception:
            self.failures.append(f"{q.name}: {traceback.format_exc(limit=3)}")
            return None, None
        finally:
            if self.tracer is not None:
                self.tracer.op_key = None

    def check(self, q, result) -> bool:
        if _self_checked(q):
            self.checked["selfcheck"] += 1
            ok = self_check(q.name, result)
        elif q.name in self.oracle:
            from hearthstats_spark.oracle import compare

            self.checked["oracle"] += 1
            ok = compare(q.name, result, self.oracle[q.name]).ok
            self.checked["oracle_mismatch"] += not ok
        else:
            ok = True
        if not ok:
            self.failures.append(f"{q.name}: output check failed")
        return ok

    def cleanup_op(self) -> None:
        """Drop what an operation cached, outside its timing."""
        from hearthstats_spark.operators.bounded import release_guard_caches

        release_guard_caches()
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    # -- a run ---------------------------------------------------------
    def run(self) -> dict:
        a = self.args
        if self.tracer is not None:
            self.tracer.install()
        from hearthstats_spark.session import get_spark

        conf = tracing.event_log_conf(a.event_log) if a.trace else {}
        sw = Stopwatch()
        self.spark = get_spark("perfbench", master=f"local[{CORES}]",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        jvm = self.spark.sparkContext._gateway.proc
        get_spark_s = sw.read()[0]
        sw = Stopwatch()
        from hearthstats_spark.queries.registry import LOAD_FAILURES, load_all

        registry = load_all()
        if LOAD_FAILURES:
            raise RuntimeError(f"query modules failed to load: {LOAD_FAILURES}")
        queries = [registry[name] for name in WORKLOADS[a.workload]]
        load_all_s = sw.read()[0]

        import bench

        # set-up: the cold pass fills codegen, the Python worker pool
        # and the artifact store. Failures here count like any other.
        sw = Stopwatch()
        attempted = failed = 0
        if self.tracer is not None:
            self.tracer.setup = True
        for q in self.rng.sample(queries, len(queries)):
            lat, _ = self.run_op(q, None)
            attempted += 1
            failed += lat is None
            self.cleanup_op()
        first_pass_s = sw.read()[0]
        setup_wall_s, setup_s, setup_steal = Stopwatch.decode(a.spawn).read()
        if self.tracer is not None:
            self.tracer.setup = False
        bench._drop_blocks(self.spark)

        from hearthstats_spark.oracle import duck_connect

        con = duck_connect(a.data)
        # every extension the oracles use is built in; never fetch one
        con.execute("SET autoinstall_known_extensions = false")
        for q in queries:
            sql = registry[BATCH_TWIN.get(q.name, q.name)].oracle
            if sql is not None and not _self_checked(q):
                self.oracle[q.name] = con.execute(sql).fetchdf()
        con.close()

        min_passes = MIN_PASSES if self.tracer is None else MIN_TRACED_PASSES
        passes: list[dict] = []
        window = Stopwatch()
        while True:
            # traced/untraced in ABBA order, so the warm-up trend over
            # the window does not bias trace.overhead_frac
            traced = self.tracer is not None and len(passes) % 4 in (0, 3)
            if self.tracer is not None and not traced:
                self.spark.sparkContext.setJobGroup("untraced", "untraced")
            p = {"traced": traced, "names": [], "wall": [], "ops": [],
                 "start": time.time()}
            pass_sw = Stopwatch()
            for i, q in enumerate(self.rng.sample(queries, len(queries))):
                key = f"{q.name}#{len(passes)}.{i}" if traced else None
                lat, result = self.run_op(q, key)
                attempted += 1
                if lat is None or not self.check(q, result):
                    failed += 1
                else:
                    p["names"].append(q.name)
                    p["wall"].append(lat[0])
                    p["ops"].append(lat[1])
                self.cleanup_op()
            p["end"] = time.time()
            p["steal_share"] = pass_sw.read()[2]
            p["pass_s"] = sum(p["ops"])
            passes.append(p)
            bench._drop_blocks(self.spark)
            # the window is counted in steal-adjusted seconds, so the
            # number of passes (and how far the JIT has warmed up by
            # the last one) does not depend on the hypervisor; a wall
            # cap of 1.5x the window bounds the run under heavy steal
            wall, adjusted, _ = window.read()
            n = len(passes)
            if n >= min_passes and (adjusted * (n + 1) / n > a.seconds
                                    or wall * (n + 1) / n > 1.5 * a.seconds):
                break

        rss_kb = {"python": _vm_hwm_kb("self"), "jvm": _vm_hwm_kb(jvm.pid)}
        self.spark.stop()
        jvm.stdin.close()  # the gateway JVM exits on stdin EOF
        jvm.wait(timeout=60)

        out = {
            "setup_s": setup_s,
            "setup_wall_s": setup_wall_s,
            "setup_steal_share": setup_steal,
            "setup_parts": {"session.get_spark_s": get_spark_s,
                            "registry.load_all_s": load_all_s,
                            "setup.first_pass_s": first_pass_s},
            "attempted": attempted,
            "failed": failed,
            "failures": self.failures[:20],
            "peak_rss_mb": sum(rss_kb.values()) / 1024.0,
            "peak_rss_parts_mb": {k: v / 1024.0 for k, v in rss_kb.items()},
            "passes": passes,
        }
        if self.tracer is not None:
            windows = [(p["start"], p["end"]) for p in passes if p["traced"]]
            events = tracing.read_event_log(a.event_log)
            layers = tracing.layer_metrics(events, self.tracer, windows, CORES)
            layers.update(out["setup_parts"])
            layers.update({
                "mem.peak_rss_mb": out["peak_rss_mb"],
                "oracle.checked": float(self.checked["oracle"]),
                "oracle.mismatches": float(self.checked["oracle_mismatch"]),
                "selfcheck.checked": float(self.checked["selfcheck"]),
                "ops.failed_frac": failed / attempted,
                "trace.overhead_frac": tracing.overhead_frac(
                    [p["pass_s"] for p in passes if p["traced"]],
                    [p["pass_s"] for p in passes if not p["traced"]]),
            })
            out["layers"] = layers
        return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True, help="generated corpus dir")
    ap.add_argument("--event-log", required=True, help="event log dir")
    ap.add_argument("--spawn", required=True,
                    help="Stopwatch.encode() of the parent, taken at spawn")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    result = Client(args).run()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
