"""Tracing for the benchmark's traced run.

Two sources, both recorded from the benchmark's own files:

* Python-side spans around the calls into each layer's public
  functions — the query function (``queries.construct``), the sink
  action (``exec.action``), ``io.load_table`` and
  ``operators.ann_index.persisted`` — kept in memory and reduced when
  the run ends.
* The Spark event log (uncompressed, non-rolling, so the standard
  library can read it). Every job carries the Spark job group
  ``pb:<op>#<pass>:<phase>`` set by the client around each phase, so
  each stage and task maps to one operation. Jobs Spark starts under
  a job group of its own (streaming micro-batches) map to the
  operation whose span contains their submission time, and so do the
  streaming progress events, one per micro-batch.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "pb:"
STREAM_PROGRESS = "StreamingQueryListener$QueryProgressEvent"

#: event-log SQL metric names of the Python-worker operators
#: (ArrowEvalPython, FlatMapGroupsInPandas, MapInPandas, ...)
PYTHON_METRICS = {
    "time to run Python workers": "operators.python_run_s",
    "time to start Python workers": "operators.python_start_s",
    "time to initialize Python workers": "operators.python_init_s",
    "data sent to Python workers": "operators.python_bytes_sent",
    "data returned from Python workers": "operators.python_bytes_received",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def job_group(op_key: str, phase: str) -> str:
    return f"{GROUP_PREFIX}{op_key}:{phase}"


@dataclass
class Span:
    op_key: str
    layer: str
    start: float  # wall-clock seconds, comparable with event-log ms
    end: float


@dataclass
class Tracer:
    """Records spans while ``op_key`` is set; a no-op otherwise, so the
    wrappers can stay installed across untraced passes. Artifact
    builds are counted while ``setup`` is set (the set-up pass) and
    while ``op_key`` is set (the traced passes)."""

    op_key: str | None = None
    setup: bool = False
    spans: list[Span] = field(default_factory=list)
    setup_builds: int = 0
    traced_builds: int = 0

    @contextmanager
    def span(self, layer: str):
        key = self.op_key
        t0 = time.time()
        try:
            yield
        finally:
            if key is not None:
                self.spans.append(Span(key, layer, t0, time.time()))

    def install(self) -> None:
        """Wrap ``io.load_table`` and ``ann_index.persisted`` in place.
        Must run before ``registry.load_all()``: the query modules bind
        both names with ``from ... import`` when they are imported."""
        from hearthstats_spark import io
        from hearthstats_spark.operators import ann_index

        load_table = io.load_table

        @functools.wraps(load_table)
        def traced_load_table(*args, **kwargs):
            with self.span("io.load_table"):
                return load_table(*args, **kwargs)

        persisted = ann_index.persisted

        @functools.wraps(persisted)
        def traced_persisted(spark, sf_dir, name, build, *args, **kwargs):
            def counted_build():
                if self.setup:
                    self.setup_builds += 1
                elif self.op_key is not None:
                    self.traced_builds += 1
                return build()

            with self.span("ann_index.persisted"):
                return persisted(spark, sf_dir, name, counted_build,
                                 *args, **kwargs)

        io.load_table = traced_load_table
        ann_index.persisted = traced_persisted


def read_event_log(log_dir: str) -> list[dict]:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    with open(files[0]) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _op_spans(spans: list[Span]) -> list[Span]:
    """The spans of whole operation phases."""
    return [s for s in spans if s.layer in ("queries.construct",
                                            "exec.action")]


def _attribute_jobs(events: list[dict], spans: list[Span],
                    windows: list[tuple[float, float]]):
    """job id -> (op_key, phase) for every job submitted inside a
    traced pass; returns (attribution, unattributed job ids)."""
    op_spans = _op_spans(spans)
    attributed: dict[int, tuple[str, str]] = {}
    unattributed: list[int] = []
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        t = ev["Submission Time"] / 1000.0
        if not any(lo <= t <= hi for lo, hi in windows):
            continue
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
        if group.startswith(GROUP_PREFIX):
            op_key, _, phase = group[len(GROUP_PREFIX):].rpartition(":")
            attributed[ev["Job ID"]] = (op_key, phase)
            continue
        owner = next((s for s in op_spans if s.start <= t <= s.end), None)
        if owner is None:
            unattributed.append(ev["Job ID"])
        else:
            phase = "construct" if owner.layer == "queries.construct" else "action"
            attributed[ev["Job ID"]] = (owner.op_key, phase)
    return attributed, unattributed


def layer_metrics(events: list[dict], tracer: Tracer,
                  windows: list[tuple[float, float]], cores: int) -> dict:
    """Per-layer totals over the traced passes, divided by the number
    of traced passes (so every value reads "per pass")."""
    n_pass = max(1, len(windows))
    attributed, unattributed = _attribute_jobs(events, tracer.spans, windows)
    stage_owner: dict[int, str] = {}
    jobs_by_phase = {"construct": 0, "action": 0}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        owner = attributed.get(ev["Job ID"])
        if owner is None:
            continue
        jobs_by_phase[owner[1]] = jobs_by_phase.get(owner[1], 0) + 1
        for sid in ev.get("Stage IDs", []):
            stage_owner[sid] = owner[0]

    m: dict[str, float] = {k: 0.0 for k in (
        "exec.stages", "exec.tasks", "exec.scheduler_delay_s",
        "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
        "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
        "exec.shuffle_fetch_wait_s", "exec.spill_bytes", "exec.failed_tasks",
        "io.input_bytes", "io.input_records", "sinks.output_bytes",
        "sinks.output_records", *PYTHON_METRICS.values())}
    stages_seen = set()
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        if ev.get("Stage ID") not in stage_owner:
            continue
        stages_seen.add((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
        info = ev.get("Task Info") or {}
        tm = ev.get("Task Metrics") or {}
        m["exec.tasks"] += 1
        if info.get("Failed") or info.get("Killed"):
            m["exec.failed_tasks"] += 1
        run_ms = tm.get("Executor Run Time", 0)
        duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        overhead = (tm.get("Executor Deserialize Time", 0)
                    + tm.get("Result Serialization Time", 0)
                    + (info.get("Finish Time", 0) - info["Getting Result Time"]
                       if info.get("Getting Result Time") else 0))
        m["exec.scheduler_delay_s"] += max(0, duration - run_ms - overhead) / 1e3
        m["exec.task_run_s"] += run_ms / 1e3
        m["exec.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        m["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        m["exec.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0))
        m["exec.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        m["exec.spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                  + tm.get("Disk Bytes Spilled", 0))
        inp = tm.get("Input Metrics") or {}
        out = tm.get("Output Metrics") or {}
        m["io.input_bytes"] += inp.get("Bytes Read", 0)
        m["io.input_records"] += inp.get("Records Read", 0)
        m["sinks.output_bytes"] += out.get("Bytes Written", 0)
        m["sinks.output_records"] += out.get("Records Written", 0)
        for acc in info.get("Accumulables") or []:
            name = PYTHON_METRICS.get(acc.get("Name"))
            if name is None:
                continue
            val = float(acc.get("Update") or 0)
            # "timing" SQL metrics are recorded in ms, sizes in bytes
            m[name] += val / 1e3 if name.endswith("_s") else val
    m["exec.stages"] = len(stages_seen)
    m["sinks.files_written"] = _files_written(events, attributed)

    spans = tracer.spans

    def total(layer: str) -> float:
        return sum(s.end - s.start for s in spans if s.layer == layer)

    def count(layer: str) -> int:
        return sum(1 for s in spans if s.layer == layer)

    op_wall = total("queries.construct") + total("exec.action")
    calls = count("ann_index.persisted")
    builds = tracer.traced_builds
    batches = _micro_batches(events, spans)
    out = {k: v / n_pass for k, v in m.items()}
    out.update({
        "exec.jobs": len(attributed) / n_pass,
        "exec.action_s": total("exec.action") / n_pass,
        "exec.core_busy_frac": (m["exec.task_run_s"] / (op_wall * cores)
                                if op_wall else 0.0),
        "queries.construct_s": total("queries.construct") / n_pass,
        "queries.construct_jobs": jobs_by_phase["construct"] / n_pass,
        "io.load_table_calls": count("io.load_table") / n_pass,
        "io.load_table_s": total("io.load_table") / n_pass,
        "ann_index.persisted_calls": calls / n_pass,
        "ann_index.persisted_s": total("ann_index.persisted") / n_pass,
        "ann_index.builds": builds / n_pass,
        "ann_index.setup_builds": float(tracer.setup_builds),
        "ann_index.hit_ratio": (calls - builds) / calls if calls else 0.0,
        "sinks.bytes_written_per_input_byte": (
            m["sinks.output_bytes"] / m["io.input_bytes"]
            if m["io.input_bytes"] else 0.0),
        "streaming.microbatches": len(batches) / n_pass,
        "streaming.batch_s": sum(batches) / n_pass,
        "trace.unattributed_jobs": float(len(unattributed)),
    })
    return out


def _micro_batches(events: list[dict], spans: list[Span]) -> list[float]:
    """Durations (s) of the streaming micro-batches triggered inside a
    traced operation, one progress event each."""
    op_spans = _op_spans(spans)
    out = []
    for ev in events:
        if not ev.get("Event", "").endswith(STREAM_PROGRESS):
            continue
        p = ev["progress"]
        t = dt.datetime.fromisoformat(p["timestamp"]).timestamp()
        if any(s.start <= t <= s.end for s in op_spans):
            out.append(p["batchDuration"] / 1e3)
    return out


def _files_written(events: list[dict],
                   attributed: dict[int, tuple[str, str]]) -> float:
    """Sum of the driver-side "number of written files" SQL metric over
    the SQL executions whose jobs belong to traced operations."""
    exec_ids = set()
    for ev in events:
        if (ev.get("Event") == "SparkListenerJobStart"
                and ev["Job ID"] in attributed):
            eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                exec_ids.add(int(eid))
    acc_ids: set[int] = set()

    def walk(plan: dict) -> None:
        for metric in plan.get("metrics", []):
            if metric.get("name") == "number of written files":
                acc_ids.add(metric["accumulatorId"])
        for child in plan.get("children", []):
            walk(child)

    for ev in events:
        name = ev.get("Event", "")
        if name.endswith(("SparkListenerSQLExecutionStart",
                          "SparkListenerSQLAdaptiveExecutionUpdate")):
            walk(ev.get("sparkPlanInfo") or {})
    files = 0
    for ev in events:
        if (ev.get("Event", "").endswith("SparkListenerDriverAccumUpdates")
                and ev.get("executionId") in exec_ids):
            files += sum(v for k, v in ev.get("accumUpdates", [])
                         if k in acc_ids)
    return float(files)


def overhead_frac(traced: list[float], untraced: list[float]) -> float:
    if not traced or not untraced:
        return 0.0
    return statistics.median(traced) / statistics.median(untraced) - 1.0
