"""Tracing for the benchmark's traced run.

Spans are recorded from outside the package: around the benchmark's own
calls into it (query construction, the sink, ``cli.main``) and around
public functions of the package that are swapped for timing wrappers
(``io.write_parquet``, ``io.publish_snapshot``, ``io.fold_merge_snapshot``,
``operators.scale.pin_shared``). Spark's event log, turned on for the
traced session, supplies the engine-side numbers. ``per_pass`` joins the
two by wall-clock time into one figure per metric and pass.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import re
import sys
import time
from collections import defaultdict
from datetime import datetime, timezone

MB = 1024 * 1024

WRAPPED = (
    ("mysql2parquet_spark.io", "write_parquet", "io.write_parquet"),
    ("mysql2parquet_spark.io", "publish_snapshot", "io.publish_snapshot"),
    ("mysql2parquet_spark.io", "fold_merge_snapshot", "io.fold_merge_snapshot"),
    ("mysql2parquet_spark.operators.scale", "pin_shared", "operators.pin_shared"),
)

_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


class NullTracer:
    """Tracing off: no spans, no wrappers."""

    pass_id = 0

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def call(self, name: str, fn, *args, **kwargs):
        return fn(*args, **kwargs)


class Tracer(NullTracer):
    """Spans kept in memory: (name, start, end, pass id), epoch seconds.
    A span's parent is the innermost span of the same pass that encloses
    it, worked out when the spans are written (spans opened on py4j
    callback threads have no stack to inherit from)."""

    def __init__(self):
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        start = time.time()
        try:
            yield
        finally:
            self.spans.append({"name": name, "start": start, "end": time.time(), "pass": self.pass_id})

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def install(self) -> None:
        """Swap each wrapped function, in every loaded module of the
        package that holds a reference to it, for a timing wrapper."""
        for mod_name, attr, span_name in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), attr)

            @functools.wraps(orig)
            def wrapper(*args, _orig=orig, _name=span_name, **kwargs):
                return self.call(_name, _orig, *args, **kwargs)

            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("mysql2parquet_spark"):
                    for k, v in list(vars(mod).items()):
                        if v is orig:
                            setattr(mod, k, wrapper)

    def with_parents(self) -> list[dict]:
        out = []
        by_start = sorted(self.spans, key=lambda s: (s["start"], -s["end"]))
        for i, s in enumerate(by_start):
            parent = None
            for p in by_start[:i]:
                if p["pass"] == s["pass"] and p["start"] <= s["start"] and s["end"] <= p["end"]:
                    parent = p["name"]  # later starts are more deeply nested
            out.append({**s, "parent": parent})
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.with_parents():
                f.write(json.dumps(s) + "\n")


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (single) application logged under ``log_dir``,
    rolling or not."""
    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
         if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")),
        key=lambda p: (int(m.group(1)) if (m := re.search(r"events_(\d+)_", p)) else 0, p),
    )
    events = []
    for p in files:
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _nodes(plan: dict):
    yield plan["nodeName"]
    for c in plan.get("children", []):
        yield from _nodes(c)


def _metric_names(plan: dict) -> dict[int, str]:
    """Accumulator id -> SQL metric name, over a plan tree."""
    out = {m["accumulatorId"]: m["name"] for m in plan.get("metrics", [])}
    for c in plan.get("children", []):
        out.update(_metric_names(c))
    return out


def _covered(span: dict, children: list[dict]) -> float:
    """Seconds of ``span`` covered by the union of ``children``."""
    iv = sorted((max(c["start"], span["start"]), min(c["end"], span["end"])) for c in children)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def per_pass(spans: list[dict], events: list[dict], windows: dict[int, tuple[float, float]], cores: int) -> dict[int, dict]:
    """Layer figures for each pass. ``windows`` maps a pass id to its wall
    interval (epoch seconds); Spark events are assigned to the pass whose
    interval holds their timestamp."""

    def pass_of(ms: float) -> int | None:
        t = ms / 1000.0
        for pid, (a, b) in windows.items():
            if a <= t <= b:
                return pid
        return None

    out: dict[int, dict] = {pid: defaultdict(float) for pid in windows}
    final_plan: dict[int, dict] = {}
    exec_pass: dict[int, int] = {}
    exec_start: list[tuple[float, int]] = []
    job_times: list[tuple[float, int]] = []
    metric_names: dict[int, str] = {}
    driver_updates: list[dict] = []
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            p = pass_of(e["Submission Time"])
            if p is not None:
                out[p]["sched.jobs"] += 1
                job_times.append((e["Submission Time"] / 1000.0, p))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            p = pass_of(info.get("Completion Time", 0))
            if p is not None and "Failure Reason" not in info:
                out[p]["sched.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            p = pass_of(info["Finish Time"])
            if p is None:
                continue
            m = out[p]
            m["sched.tasks"] += 1
            m["task_busy_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000.0
            acc: dict[str, float] = defaultdict(float)
            for a in info.get("Accumulables", []):
                try:
                    acc[a.get("Name")] += float(a.get("Update", 0))
                except (TypeError, ValueError):
                    pass
            m["exec.run_s"] += acc["internal.metrics.executorRunTime"] / 1000.0
            m["exec.cpu_s"] += acc["internal.metrics.executorCpuTime"] / 1e9
            m["exec.gc_s"] += acc["internal.metrics.jvmGCTime"] / 1000.0
            m["shuffle.write_mb"] += acc["internal.metrics.shuffle.write.bytesWritten"] / MB
            m["shuffle.read_mb"] += (
                acc["internal.metrics.shuffle.read.localBytesRead"] + acc["internal.metrics.shuffle.read.remoteBytesRead"]
            ) / MB
            m["shuffle.spill_mb"] += acc["internal.metrics.diskBytesSpilled"] / MB
            m["io.scan_mb"] += acc["internal.metrics.input.bytesRead"] / MB
            m["io.scan_rows"] += acc["internal.metrics.input.recordsRead"]
            m["io.bytes_written_mb"] += acc["internal.metrics.output.bytesWritten"] / MB
            m["python.sent_mb"] += acc["data sent to Python workers"] / MB
            m["python.recv_mb"] += acc["data returned from Python workers"] / MB
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            eid = e["executionId"]
            final_plan[eid] = e["sparkPlanInfo"]
            metric_names.update(_metric_names(e["sparkPlanInfo"]))
            if kind == "SparkListenerSQLExecutionStart":
                p = pass_of(e["time"])
                if p is not None:
                    exec_pass[eid] = p
                    exec_start.append((e["time"] / 1000.0, p))
        elif kind == "SparkListenerDriverAccumUpdates":
            driver_updates.append(e)
        elif kind == "StreamingQueryListener$QueryProgressEvent":
            prog = e["progress"]
            p = pass_of(_iso_ms(prog["timestamp"]))
            if p is not None and sum(src.get("numInputRows", 0) for src in prog.get("sources", [])) > 0:
                out[p]["streaming.batches"] += 1
    # SQL metrics the driver updates (file writes) carry accumulator ids only
    for e in driver_updates:
        p = exec_pass.get(e["executionId"])
        if p is not None:
            for acc_id, value in e["accumUpdates"]:
                if metric_names.get(acc_id) == "number of written files":
                    out[p]["io.files_written"] += value
    for eid, p in exec_pass.items():
        names = list(_nodes(final_plan[eid]))
        out[p]["plan.exchanges"] += sum(n == "Exchange" for n in names)
        out[p]["plan.python_nodes"] += sum(bool(_PYTHON_NODE.search(n)) for n in names)

    for pid, (a, b) in windows.items():
        m = out[pid]
        mine = [s for s in spans if s["pass"] == pid]
        m["exec.core_busy_frac"] = m.pop("task_busy_s", 0.0) / (cores * (b - a))
        builds = [s for s in mine if s["name"].startswith("queries.build:")]
        m["queries.build_s"] = sum(s["end"] - s["start"] for s in builds)
        m["queries.build_jobs"] = sum(
            1 for t, p in job_times if p == pid and any(s["start"] <= t <= s["end"] for s in builds)
        )
        pins = [s for s in mine if s["name"] == "operators.pin_shared"]
        m["operators.pin_shared_calls"] = len(pins)
        m["operators.pin_shared_s"] = sum(s["end"] - s["start"] for s in pins)
        # planning: from the sink call to the start of its SQL execution
        for s in mine:
            if s["name"].startswith("sink:"):
                starts = [t for t, p in exec_start if p == pid and s["start"] <= t <= s["end"]]
                if starts:
                    m["plan.s"] += min(starts) - s["start"]
        for name, key in (("io.write_parquet", "io.write_parquet_s"), ("io.publish_snapshot", "io.publish_s"),
                          ("io.fold_merge_snapshot", "io.fold_merge_s")):
            m[key] = sum(s["end"] - s["start"] for s in mine if s["name"] == name)
        clis = [s for s in mine if s["name"] == "cli.main"]
        m["cli.main_s"] = sum(s["end"] - s["start"] for s in clis)
        m["cli.self_s"] = sum(
            (c["end"] - c["start"]) - _covered(c, [s for s in mine if s["name"].startswith("io.")]) for c in clis
        )
    return out


def _iso_ms(ts: str) -> float:
    """Epoch milliseconds of a streaming progress timestamp
    (``2026-01-01T00:00:00.000Z``)."""
    d = datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc)
    return d.timestamp() * 1000.0
