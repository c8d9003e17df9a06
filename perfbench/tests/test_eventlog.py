"""The offline event-log parser on a hand-written log."""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import events, runtime_metrics  # noqa: E402
from spans import Tracer, self_times  # noqa: E402


def _task(stage, run_ms, cpu_ns=0, gc_ms=0, read=0, written=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
                "Memory Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": read},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}}


LOG = [
    {"Event": "SparkListenerApplicationStart"},
    # job 0 is before the window: its stage and tasks are not counted
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 500,
     "Stage IDs": [0]},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    _task(0, 9000),
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
     "Stage IDs": [1, 2, 3]},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    # stage 3 was skipped: listed by the job, never completed
    _task(1, 100, cpu_ns=50_000_000, written=1000),
    _task(1, 100, cpu_ns=50_000_000, written=1000),
    _task(1, 400, cpu_ns=300_000_000, gc_ms=20, written=1000),
    _task(2, 50, read=3000, spill=7),
]


def test_runtime_metrics_in_window(tmp_path):
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in LOG) + "\n")
    m = runtime_metrics(events(str(path)), start_ms=1000, end_ms=2000)
    assert m["spark.jobs"] == 1
    assert m["spark.stages"] == 2
    assert m["spark.tasks"] == 4
    assert m["shuffle.write_bytes"] == 3000
    assert m["shuffle.read_bytes"] == 3000
    assert m["spill.disk_bytes"] == 7
    assert abs(m["executor.run_s"] - 0.65) < 1e-9
    assert abs(m["executor.cpu_s"] - 0.4) < 1e-9
    assert abs(m["executor.gc_s"] - 0.02) < 1e-9
    # heaviest stage is stage 1: max 400 ms over median 100 ms
    assert m["task.skew_max_over_median"] == 4.0


def test_rolling_log_directory(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text(
        "\n".join(json.dumps(e) for e in LOG[:4]) + "\n")
    (d / "events_2_local-1").write_text(
        "\n".join(json.dumps(e) for e in LOG[4:]) + "\n")
    (d / "appstatus_local-1").write_text("")
    assert len(list(events(str(tmp_path)))) == len(LOG)
    assert runtime_metrics(events(str(tmp_path)))["spark.jobs"] == 2


def test_self_time_subtracts_children():
    t = Tracer(True, "t")
    with t.span("outer"):
        with t.span("inner"):
            pass
    t.spans[0].update(start=0.0, end=10.0)
    t.spans[1].update(start=2.0, end=5.0)
    assert self_times(t.spans) == {"outer": 7.0, "inner": 3.0}
    assert t.spans[1]["parent"] == t.spans[0]["id"]
