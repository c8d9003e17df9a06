#!/usr/bin/env python3
"""Time every Python-worker task of a small pandas-UDF job, step by step.

Runs JOBS jobs of TASKS tasks each through one pandas UDF in a
``get_spark`` session at ``local[CORES]``, so most tasks land on a reused
worker. It prints one row per task: the worker pid, the task number on that
worker, and the ms from the task's start to its end, spent in PySpark's
``setup_spark_files`` and ``read_udfs``, to the UDF's first batch, and in the
``gc.collect()`` the daemon runs after a task. A worker's first row also
shows the ms from its ``fork`` to the task's start.
``--daemon pyspark.daemon`` runs the same job on the stock daemon.

    python3 tools/worker_profile.py [--daemon pyspark.daemon] [--cprofile DIR]

``--cprofile DIR`` runs every task under cProfile and keeps its profile as
``DIR/<pid>-<n>.prof`` for ``python3 -m pstats``; cProfile slows the
Python-level steps, so compare its figures only with each other.
"""

import argparse
import json
import os
import sys
import tempfile

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CORES, TASKS, JOBS = 2, 4, 3

# The worker module. PySpark's daemon imports a worker module only if its
# name starts with "pyspark"; the daemon imports it before forking, so the
# fork hook below runs in every worker it forks.
WORKER_SRC = '''
import cProfile, gc, json, os, time
import pyspark.worker as _w

OUT, PROFILE = {settings!r}
forked = []
task = {{}}
done = [0]
os.register_at_fork(after_in_child=lambda: forked.append(time.time()))


def _timed(name, fn):
    def run(*args, **kwargs):
        start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            task[name] = time.time() - start
    return run


_w.setup_spark_files = _timed("setup_spark_files", _w.setup_spark_files)
_w.read_udfs = _timed("read_udfs", _w.read_udfs)


def main(infile, outfile):
    done[0] += 1
    task.clear()
    base = os.path.join(OUT, "%d-%d" % (os.getpid(), done[0]))
    prof = cProfile.Profile() if PROFILE else None
    task["start"] = time.time()
    if prof:
        prof.enable()
    try:
        _w.main(infile, outfile)
    finally:
        task["end"] = time.time()
        if prof:
            prof.disable()
            prof.dump_stats(base + ".prof")
        gc_start = time.time()
        gc.collect()
        task["gc_collect"] = time.time() - gc_start
        if done[0] == 1 and forked:
            task["fork"] = forked[0]
        with open(base + ".json", "w") as fh:
            json.dump(task, fh)
'''


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--daemon", default=None,
                    help="spark.python.daemon.module (default: get_spark's)")
    ap.add_argument("--cprofile", default=None, metavar="DIR")
    args = ap.parse_args()

    out = args.cprofile or tempfile.mkdtemp(prefix="worker-profile-")
    os.makedirs(out, exist_ok=True)
    mod_dir = tempfile.mkdtemp(prefix="worker-module-")
    with open(os.path.join(mod_dir, "pyspark_lps_profworker.py"), "w") as fh:
        fh.write(WORKER_SRC.format(settings=(out, bool(args.cprofile))))

    from pyspark.sql import functions as F

    from logparse_rs_spark.session import get_spark

    conf = {"spark.python.worker.module": "pyspark_lps_profworker",
            "spark.executorEnv.PYTHONPATH": os.pathsep.join([ROOT, mod_dir])}
    if args.daemon:
        conf["spark.python.daemon.module"] = args.daemon
    spark = get_spark("worker-profile", cores=CORES, extra_conf=conf)

    @F.pandas_udf("long")
    def first_batch(s: pd.Series) -> pd.Series:
        import time

        task = sys.modules["pyspark_lps_profworker"].task
        task.setdefault("first_batch", time.time())
        return s + 1

    for _ in range(JOBS):
        (spark.range(0, 1000, numPartitions=TASKS)
         .select(first_batch("id")).collect())
    spark.stop()

    print("pid      task  fork_ms  wall_ms  setup_spark_files_ms  "
          "read_udfs_ms  first_batch_ms  gc_collect_ms")
    names = [n[:-5] for n in os.listdir(out) if n.endswith(".json")]
    for name in sorted(names, key=lambda n: [int(x) for x in n.split("-")]):
        with open(os.path.join(out, name + ".json")) as fh:
            t = json.load(fh)
        pid, n = name.split("-")
        fork = (f"{(t['start'] - t['fork']) * 1e3:8.1f}" if "fork" in t
                else f"{'':8}")
        first = (f"{(t['first_batch'] - t['start']) * 1e3:15.1f}"
                 if "first_batch" in t else f"{'-':>15}")
        print(f"{pid:8} {n:>4} {fork} {(t['end'] - t['start']) * 1e3:8.1f} "
              f"{t.get('setup_spark_files', 0) * 1e3:21.1f} "
              f"{t.get('read_udfs', 0) * 1e3:13.1f} {first} "
              f"{t['gc_collect'] * 1e3:14.1f}")
    if args.cprofile:
        print(f"cProfile per task: {out}/<pid>-<n>.prof")


if __name__ == "__main__":
    main()
