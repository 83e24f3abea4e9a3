"""The traced-run reducer on hand-written event logs, and one tiny traced
run of the benchmark command end to end."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _task(stage, run_ms, cpu_ns=0, shuffle=0, read=0, wrote=0,
          failed=False, py_ms=None):
    acc = ([{"Name": trace.PY_WORKER_TIME, "Update": py_ms}]
           if py_ms is not None else [])
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Failed": failed, "Killed": False,
                      "Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": 10,
            "Input Metrics": {"Bytes Read": read},
            "Output Metrics": {"Bytes Written": wrote},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _job(jid, stages, t0, group=None, execution=None):
    props = {}
    if group:
        props["spark.jobGroup.id"] = group
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Stage IDs": stages, "Submission Time": t0, "Properties": props}


def _job_end(jid, t1):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid,
            "Completion Time": t1}


def _stage(sid):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid}}


def _stage_done(sid, t0, t1):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Submission Time": t0,
                           "Completion Time": t1}}


SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"
PLAN = ("== Physical Plan ==\n...\n(7) Execute "
        "InsertIntoHadoopFsRelationCommand\nInput: []\nArguments: "
        "file:/tmp/out/conv_stats, false, Parquet, [path=x], Overwrite\n")

# 'parse' and 'route' tag their jobs; jobs 2 and 3 come from two other
# threads inside the 'agg' span's window (5,000-7,000 ms) and run at the
# same time; job 4 is outside every span
WINDOWS = {"parse": [(0, 1000)], "route": [(1000, 2000)],
           "agg": [(5000, 7000)]}
EVENTS = [
    _job(0, [0], 100, "parse"), _stage(0),
    _task(0, 100, cpu_ns=5 * 10**7, read=2 * 1024 * 1024),
    _task(0, 300, cpu_ns=5 * 10**7, read=2 * 1024 * 1024),
    _stage_done(0, 100, 500), _job_end(0, 600),
    _job(1, [1, 2], 1100, "route"), _stage(1), _stage(2),
    _task(1, 100, shuffle=1024 * 1024), _task(1, 100),
    _task(1, 400, failed=True),
    _task(2, 50, py_ms=1500),
    _stage_done(1, 1100, 1500), _stage_done(2, 1500, 1900),
    _job_end(1, 1900),
    {"Event": SQL + "Start", "executionId": 3, "time": 5000,
     "physicalPlanDescription": PLAN},
    _job(2, [3], 5100, execution=3), _stage(3), _task(3, 200),
    _job(3, [4, 3], 5600, execution=3), _stage(4),
    _task(4, 100, wrote=1024 * 1024), _task(4, 300, wrote=1),
    _stage_done(3, 5100, 5800), _stage_done(4, 5600, 6000),
    _job_end(2, 5800), _job_end(3, 6000),
    {"Event": SQL + "End", "executionId": 3, "time": 6500},
    _job(4, [5], 9000), _stage(5), _task(5, 20), _job_end(4, 9100),
]


def test_reduce_groups_tasks_by_span():
    red = trace.reduce_events(EVENTS, WINDOWS)
    assert set(red) == {"parse", "route", "agg", "agg@conv_stats",
                        "untraced"}
    p, r = red["parse"], red["route"]
    assert (p["jobs"], p["stages"], p["tasks"]) == (1, 1, 2)
    assert p["run_s"] == pytest.approx(0.4)
    assert p["cpu_s"] == pytest.approx(0.1)
    assert p["gc_s"] == pytest.approx(0.02)
    assert p["input_mb"] == pytest.approx(4.0)
    assert (r["jobs"], r["stages"], r["tasks"]) == (1, 2, 4)
    assert r["failed_tasks"] == 1
    assert r["shuffle_write_mb"] == pytest.approx(1.0)
    assert r["py_worker_s"] == pytest.approx(1.5)
    # heaviest stage of 'route' is stage 1: max 400 over median 100
    assert r["task_skew"] == pytest.approx(4.0)
    assert p["task_skew"] == pytest.approx(1.5)
    assert red["untraced"]["tasks"] == 1


def test_untagged_jobs_are_placed_by_window_and_output():
    red = trace.reduce_events(EVENTS, WINDOWS)
    a, out = red["agg"], red["agg@conv_stats"]
    for s in (a, out):
        # stage 3 is listed by both jobs but run (and counted) once
        assert (s["jobs"], s["stages"], s["tasks"]) == (2, 2, 3)
    # the execution runs from 5,000 to 6,500 ms, commit included
    assert out["exec_s"] == pytest.approx(1.5)
    # stage 4 wrote files; stage 3 (5,100-5,800 ms) did not
    assert out["compute_stage_s"] == pytest.approx(0.7)
    assert out["output_mb"] == pytest.approx(1.0, abs=1e-5)
    assert out["write_task_skew"] == pytest.approx(1.5)
    assert trace.reduce_events(EVENTS)["untraced"]["jobs"] == 3


def test_total_sums_spans_only():
    t = trace.total(trace.reduce_events(EVENTS, WINDOWS))
    assert (t["jobs"], t["tasks"], t["failed_tasks"]) == (4, 9, 1)


def test_output_dir_name():
    assert trace.output_dir_name(PLAN) == "conv_stats"
    assert trace.output_dir_name("== Physical Plan ==\nScan parquet") \
        is None


def test_union_s():
    assert trace.union_s([(0, 1000), (500, 1500), (3000, 3500)]) \
        == pytest.approx(2.0)
    assert trace.union_s([]) == 0.0


def test_read_rolled_log_and_torn_tail(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1.inprogress").write_text("")
    lines = [json.dumps(e) for e in EVENTS]
    (app / "events_2_local-1").write_text(
        "\n".join(lines[6:]) + '\n{"Event": "torn')
    (app / "events_1_local-1").write_text("\n".join(lines[:6]) + "\n")
    assert trace.read_event_log(str(tmp_path)) == EVENTS


@pytest.fixture(scope="module")
def tiny_traced():
    """One tiny traced run of the benchmark command: (stdout lines,
    result)."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline_batch",
         "--seed", "3", "--seconds", "1", "--trace", "1", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def test_tiny_traced_run_reports_every_layer(tiny_traced):
    """A traced run prints every per-layer metric, and the real
    run_pipeline call's write, route and aggregate jobs are found in the
    event log."""
    from perfbench.run import PER_LAYER

    lines, res = tiny_traced
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == set(PER_LAYER)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for k in ("pipeline.write_s", "aggregate.self_s",
              "aggregate.read_back_mb", "route.shuffle_write_mb",
              "pipeline.bytes_written_mb"):
        assert m[k] > 0, k
    assert m["sources.rows"] == m["parse.rows_out"] \
        + m["parse.dead_letter_rows"]
    assert 0 < m["trace.layer_coverage"] <= 1.1
    assert any(line.startswith("trace.overhead_frac ") for line in lines)


@pytest.mark.xfail(strict=True, reason=(
    "the SQL executions of run_pipeline's writes cover about a third of "
    "a tiny job's wall and two thirds of a default-size one; the rest is "
    "driver time of the plan (pipeline.other_s) that the event log cannot "
    "split by layer"))
def test_tiny_traced_layers_cover_the_job_wall(tiny_traced):
    """The layers the event log splits account for the untraced job wall
    within 10%."""
    _, res = tiny_traced
    assert res["metrics"]["trace.layer_coverage"]["value"] >= 0.9
