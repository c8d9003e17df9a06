"""Offline parser for a Spark event log (``spark.eventLog.enabled``).

It turns the JSON-lines log into the Spark-runtime per-layer metrics,
restricted to the jobs submitted inside a time window (the timed call).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from typing import Dict, Iterable, Iterator


def events(path: str) -> Iterator[dict]:
    """The events of one log file, or of every log file under a directory
    (a rolling log is a directory of ``events_*`` files next to an
    ``appstatus_*`` marker)."""
    files = (sorted(f for f in glob.glob(os.path.join(path, "**"),
                                         recursive=True)
                    if os.path.isfile(f)
                    and not os.path.basename(f).startswith("appstatus"))
             if os.path.isdir(path) else [path])
    for f in files:
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def runtime_metrics(evs: Iterable[dict], start_ms: float = 0.0,
                    end_ms: float = float("inf")) -> Dict[str, float]:
    """Jobs, stages, tasks, shuffle bytes, spill, executor run/cpu/gc time
    and the task skew of the heaviest stage, over the jobs submitted in
    [start_ms, end_ms] (epoch milliseconds)."""
    jobs = set()
    job_stages = set()
    completed = set()
    task_run_ms: Dict[int, list] = {}
    m = {"shuffle.write_bytes": 0, "shuffle.read_bytes": 0,
         "spill.disk_bytes": 0, "spill.memory_bytes": 0,
         "executor.run_s": 0.0, "executor.cpu_s": 0.0, "executor.gc_s": 0.0}
    tasks = []
    for e in evs:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            if start_ms <= e.get("Submission Time", 0) <= end_ms:
                jobs.add(e["Job ID"])
                job_stages.update(e.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            completed.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
    for e in tasks:
        sid = e["Stage ID"]
        tm = e.get("Task Metrics")
        if sid not in job_stages or not tm:
            continue
        run_ms = tm.get("Executor Run Time", 0)
        task_run_ms.setdefault(sid, []).append(run_ms)
        m["executor.run_s"] += run_ms / 1e3
        m["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["executor.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m["spill.disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
        m["spill.memory_bytes"] += tm.get("Memory Bytes Spilled", 0)
        sr = tm.get("Shuffle Read Metrics", {})
        m["shuffle.read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        m["shuffle.write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0)
    skew = 1.0
    if task_run_ms:
        heaviest = max(task_run_ms.values(), key=sum)
        skew = max(heaviest) / max(statistics.median(heaviest), 1)
    m.update({"spark.jobs": len(jobs),
              "spark.stages": len(job_stages & completed),
              "spark.tasks": sum(len(v) for v in task_run_ms.values()),
              "task.skew_max_over_median": skew})
    return m
