"""Traced runs: layer spans, the Spark event-log reducer and UDF profiles.

A span is a stretch of driver wall time around calls into one layer's public
functions. Every Spark job the span's thread starts carries the span's name
as its job group (``SparkContext.setJobGroup``); jobs the layer starts from
threads of its own are placed by the span's time window. The event log's
``JobStart``/``StageCompleted``/``TaskEnd`` records are then reduced per
span, and per output directory within a span: job wall, executor run, CPU
and GC time, bytes read, written and shuffled, spill, task skew and the time
Python workers spent, taken from the tasks' SQL metric updates. Reducing is
pure JSON work and is tested on its own.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict

MB = 1024.0 * 1024.0

PY_WORKER_TIME = "time to run Python workers"


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application logged under ``log_dir``."""
    def order(path: str):
        # rolled logs are <app dir>/events_<n>_<app id>; plain logs are one
        # file per application
        name = os.path.basename(path)
        return int(name.split("_")[1]) if name.startswith("events_") else 0

    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(
                 "appstatus_")]
    events: list[dict] = []
    for path in sorted(paths, key=order):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    events.append(json.loads(line))
                except ValueError:
                    break  # a torn last line of a log still being written
    return events


UNTRACED = "untraced"


def new_stats() -> dict:
    return {"exec_ms": [], "exec_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "compute_stage_s": 0.0,
            "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "input_mb": 0.0,
            "output_mb": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
            "spill_mb": 0.0, "py_worker_s": 0.0, "task_skew": 1.0,
            "write_task_skew": 1.0}


# the node details of a write in a formatted physical plan; the output path
# is the first argument
_INSERT = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n"
                     r"Input: [^\n]*\nArguments: ([^,\n]+)")


def output_dir_name(plan: str) -> str | None:
    """Last path component of the directory a SQL execution's physical
    plan writes files to, or None when it writes none."""
    m = _INSERT.search(plan)
    return m.group(1).rstrip("/").rsplit("/", 1)[-1] or None if m else None


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of [start, end] intervals in ms."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1000.0


def _skew(times: list[float]) -> float:
    med = statistics.median(times)
    return max(times) / med if med > 0 else 1.0


def reduce_events(events: list[dict],
                  windows: dict[str, list] | None = None) -> dict[str, dict]:
    """Per key: counts and sums over its jobs, stages and tasks.

    A job's key is its job group. A job without one goes to the span whose
    window (epoch milliseconds, as ``Tracer`` records them) holds its
    submission time: ``setJobGroup`` tags only the calling thread, so this
    catches jobs that a layer submits from threads of its own. Other jobs
    are ``untraced``. A job of a SQL execution that writes files is also
    reduced under ``<key>@<last component of the output directory>``.

    ``exec_ms`` lists the SQL executions behind an ``@`` key as (start,
    end) in epoch ms, placed by their start time, and ``exec_s`` is the
    time they cover (concurrent executions count once); an execution also
    covers the planning it does after it starts and the commit of the files
    it wrote.
    ``compute_stage_s`` is the time covered by its stages that wrote no
    files. ``task_skew`` is max/median
    task run time in its heaviest stage (most summed task time),
    ``write_task_skew`` the same over the stages that wrote files."""
    windows = windows or {}

    def span_at(ms: float) -> str:
        for name, spans in windows.items():
            if any(a <= ms <= b for a, b in spans):
                return name
        return UNTRACED

    out: dict[str, dict] = defaultdict(new_stats)
    exec_out: dict[int, str] = {}
    exec_start: dict[int, float] = {}
    stage_keys: dict[int, list[str]] = {}
    stage_times: dict[int, list[float]] = defaultdict(list)
    stage_ms: dict[int, tuple[float, float]] = {}
    writes: set[int] = set()
    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            name = output_dir_name(ev.get("physicalPlanDescription", ""))
            if name:
                exec_out[int(ev["executionId"])] = name
                exec_start[int(ev["executionId"])] = ev.get("time", 0)
        elif kind.endswith("SQLExecutionEnd"):
            eid = int(ev["executionId"])
            if eid in exec_out:
                start = exec_start[eid]
                out[f"{span_at(start)}@{exec_out[eid]}"]["exec_ms"].append(
                    (start, ev.get("time", start)))
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            keys = [props.get("spark.jobGroup.id")
                    or span_at(ev.get("Submission Time", 0))]
            eid = props.get("spark.sql.execution.id")
            if eid is not None and int(eid) in exec_out:
                keys.append(f"{keys[0]}@{exec_out[int(eid)]}")
            for k in keys:
                out[k]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                # a stage listed by a later job too was run by the first
                stage_keys.setdefault(sid, keys)
        elif kind == "SparkListenerStageSubmitted":
            for k in stage_keys.get(ev["Stage Info"]["Stage ID"],
                                    [UNTRACED]):
                out[k]["stages"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_ms[info["Stage ID"]] = (info["Submission Time"],
                                              info["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            stage_times[sid].append(run_s)
            written = m.get("Output Metrics") or {}
            if written.get("Bytes Written", 0) \
                    or written.get("Records Written", 0):
                writes.add(sid)
            rd = m.get("Shuffle Read Metrics") or {}
            add = {
                "tasks": 1,
                "failed_tasks": int(bool(info.get("Failed")
                                         or info.get("Killed"))),
                "run_s": run_s,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "input_mb": (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0) / MB,
                "output_mb": written.get("Bytes Written", 0) / MB,
                "shuffle_write_mb": (m.get("Shuffle Write Metrics") or {}
                                     ).get("Shuffle Bytes Written", 0) / MB,
                "shuffle_read_mb": (rd.get("Remote Bytes Read", 0)
                                    + rd.get("Local Bytes Read", 0)) / MB,
                "spill_mb": (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0)) / MB,
                # a SQL timing metric, in milliseconds
                "py_worker_s": sum(float(a.get("Update", 0)) / 1e3
                                   for a in info.get("Accumulables", [])
                                   if a.get("Name") == PY_WORKER_TIME),
            }
            for k in stage_keys.get(sid, [UNTRACED]):
                for field, v in add.items():
                    out[k][field] += v
    for s in out.values():
        s["exec_s"] = union_s(s["exec_ms"])
    by_key: dict[str, list[int]] = defaultdict(list)
    for sid in stage_times:
        for k in stage_keys.get(sid, [UNTRACED]):
            by_key[k].append(sid)
    for k, sids in by_key.items():
        out[k]["compute_stage_s"] = union_s([
            stage_ms[sid] for sid in sids
            if sid not in writes and sid in stage_ms])
        heaviest = max(sids, key=lambda sid: sum(stage_times[sid]))
        out[k]["task_skew"] = _skew(stage_times[heaviest])
        wsids = [sid for sid in sids if sid in writes]
        if wsids:
            heaviest = max(wsids, key=lambda sid: sum(stage_times[sid]))
            out[k]["write_task_skew"] = _skew(stage_times[heaviest])
    return dict(out)


SUMMED = ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s",
          "gc_s", "input_mb", "output_mb", "shuffle_write_mb",
          "shuffle_read_mb", "spill_mb", "py_worker_s")


def total(reduced: dict[str, dict]) -> dict:
    """Sums over the spans: ``untraced`` jobs (warm-up, closed loop) and
    the ``@`` output keys (already inside their span's key) are left out,
    so the total covers exactly the traced passes."""
    t = {k: 0 for k in SUMMED}
    for key, s in reduced.items():
        if key == UNTRACED or "@" in key:
            continue
        for k in SUMMED:
            t[k] += s[k]
    return t


class Tracer:
    """Times spans on the driver and tags their Spark jobs."""

    def __init__(self, spark, log_dir: str):
        self.spark = spark
        self.log_dir = log_dir
        self.walls: dict[str, float] = defaultdict(float)
        self.windows: dict[str, list] = defaultdict(list)

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] += time.perf_counter() - t0
            self.windows[name].append((start_ms, time.time() * 1000.0))
            sc._jsc.clearJobGroup()

    def reduce(self) -> dict[str, dict]:
        """Wait for the listener bus to drain, then reduce the event log."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return reduce_events(read_event_log(self.log_dir), self.windows)

    def udf_profile_s(self) -> float:
        """Seconds spent inside Python UDF bodies since the last clear, from
        the PySpark ``perf`` UDF profiler."""
        stats = self.spark._profiler_collector._perf_profile_results
        return float(sum(s.total_tt for s in stats.values() if s is not None))

    def clear_udf_profile(self) -> None:
        self.spark.profile.clear(type="perf")
