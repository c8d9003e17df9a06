"""The repository benchmark: cold Spark jobs timed from outside the program.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 30 \
        --trace 0

Workloads (a closed loop with one caller: submit one job, wait for it):

- ``pipeline``: ``plans.pipeline.run_pipeline`` with the default narrow
  sinks and ``configs/anonymizer.sample.json`` over a seeded pages table,
  once at ``local[4]`` in a fresh process. The traced run adds the same job
  at ``local[1]`` in another fresh process (the single-threaded baseline).
- ``queries``: a fixed suite of ``__spark_entry__.queries()`` entries, each
  run once with ``.collect()`` in one fresh ``local[4]`` session, over
  tables generated from the seed at sf0.01 size. The ``log_*`` queries read
  the entry module's own pages fixture, which is fixed at seed 42.

Nothing is timed after a warm-up pass: codegen, Python-worker start-up and
session-shared frames land inside the timed call, as they do for a
``spark-submit`` user. Set-up (process start to a ready session) is timed
separately. A run measures ``max(1, seconds // UNIT_SECONDS)`` units.

Every output is checked (per-sink counts and line hashes against the
generator, query results against the DuckDB oracle); each failed check is
one failed operation. The last line of stdout is the JSON result; with
``--trace 1`` it carries the per-layer metrics of a traced leg and the lines
above it print the whole per-layer table.
"""

from __future__ import annotations

import argparse
import glob
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

WORK = os.path.join(ROOT, ".perfbench-work")
# a cold job at this size is mostly fixed cost (JVM, codegen, Python
# workers); 500 pages keep one run near 40 s on a 4-core host
N_PAGES = 500
# typical seconds of one unit (a fresh leg's set-up plus its timed call)
UNIT_SECONDS = {"pipeline": 35, "queries": 40}
RUN_DEADLINE_S = 170
SAMPLE_URLS = 25
# the session knobs sized for a 4-core, 15 GB host
DRIVER_MEM = "1g"

END_TO_END = {"wall_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "task.skew_max_over_median": "ratio",
    "kernels.strip_ns_per_line": "ns", "kernels.fnv_ns_per_line": "ns",
    "kernels.split_ns_per_line": "ns", "kernels.tokenize_ns_per_value": "ns",
    "dedup.minhash_ns_per_doc": "ns", "dedup.simhash_ns_per_doc": "ns",
    "parse.noop_s": "s", "project.noop_s": "s", "project_anon.noop_s": "s",
    "trace.overhead_frac": "ratio",
}


class Run:
    """State of one benchmark invocation: its directories, its operation
    counts, and the legs it started."""

    def __init__(self, args):
        self.args = args
        self.t_start = time.time()
        self.seed_dir = os.path.join(WORK, f"seed-{args.seed}")
        self.dir = os.path.join(
            WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.sf_dir = os.path.join(self.seed_dir, "data", "sf0.01")
        for d in (self.seed_dir, self.dir, os.path.join(self.dir, "tmp"),
                  os.path.join(WORK, "records")):
            os.makedirs(d, exist_ok=True)
        self.attempted = 0
        self.problems: list = []
        self.legs: list = []
        self.env = dict(os.environ)
        self.env.pop("SPARK_GRAFT_MASTER", None)
        self.env.update({
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
            "PYSPARK_PYTHON": sys.executable,
            "LPS_FIXTURE_ROOT": os.path.join(self.seed_dir, "fixtures"),
            "SPARK_GRAFT_TESTDATA": os.path.dirname(self.sf_dir),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_DRIVER_JAVA_OPTS":
                "-XX:+UseG1GC -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.dir, 'tmp')}",
            "SPARK_LOCAL_DIRS": os.path.join(self.dir, "local"),
            "TMPDIR": os.path.join(self.dir, "tmp"),
        })

    def check(self, what: str, problems: list) -> None:
        """One operation: counted as failed when it has problems."""
        self.attempted += 1
        if problems:
            self.problems.append({"op": what, "problems": problems})

    def leg(self, kind: str, cores: int, eventlog: bool = False,
            layers: bool = False, **paths):
        """Run one worker process; its JSON result, or None on failure."""
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), kind,
               "--cores", str(cores), "--work", self.dir,
               "--sf-dir", self.sf_dir, "--eventlog", str(int(eventlog)),
               "--layers", str(int(layers))]
        for k, v in paths.items():
            cmd += [f"--{k}", v]
        left = RUN_DEADLINE_S - (time.time() - self.t_start)
        log = os.path.join(self.dir, f"leg{len(self.legs)}.log")
        with open(log, "w") as err:
            cmd += ["--spawn-time", repr(time.time())]
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                    env=self.env, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=max(left, 1))
            except subprocess.TimeoutExpired:
                out = ""
            finally:
                stop_group(proc)
        lines = out.strip().splitlines()
        if proc.returncode != 0 or not lines:
            with open(log) as fh:
                tail = fh.read()[-3000:]
            sys.stderr.write(f"{kind} leg at local[{cores}] failed "
                             f"(exit {proc.returncode}):\n{tail}\n")
            self.legs.append({"kind": kind, "cores": cores, "failed": True})
            return None
        res = json.loads(lines[-1])
        self.legs.append(res)
        return res


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of a worker's process group (the JVM and its
    Python workers) and wait until every member has ended."""
    pgid = proc.pid
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline and _group_alive(pgid):
        time.sleep(0.05)


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


# ---- pipeline --------------------------------------------------------------

def pipeline_inputs(run: Run):
    """The seed's pages, their parquet path and the urls whose lines are
    hash-checked."""
    import numpy as np

    from inputs import Pages

    pages = Pages(N_PAGES, run.args.seed)
    path = os.path.join(run.seed_dir, f"pages_n{N_PAGES}.parquet")
    if not os.path.exists(path):
        pages.write(path)
    urls = sorted(pages.truth)
    rng = np.random.default_rng(run.args.seed)
    sample = [urls[i] for i in rng.choice(len(urls), SAMPLE_URLS,
                                          replace=False)]
    return pages, path, sample


def pipeline_unit(run: Run, pages, path, sample, cores_order=(4,),
                  traced: bool = False) -> dict:
    """One fresh-process leg per core count; each leg's output is checked.
    A traced unit writes the event log of every leg and gathers the
    per-layer figures in its local[4] leg."""
    from checks import check_pipeline

    sinks = default_sinks()
    res = {}
    for cores in cores_order:
        out = os.path.join(run.dir, f"out-{len(run.legs)}")
        res[cores] = run.leg("pipeline", cores, eventlog=traced,
                             layers=traced and cores == 4,
                             pages=path, out=out)
        run.check(f"run_pipeline local[{cores}]",
                  ["leg failed"] if res[cores] is None else
                  check_pipeline(out, pages, res[cores], sinks, sample))
        shutil.rmtree(out, ignore_errors=True)
    return res


def default_sinks():
    from logparse_rs_spark.plans import pipeline
    from logparse_rs_spark.schema import load_schema

    return pipeline.default_sinks(load_schema(
        os.path.join(ROOT, "schemas", "schema.json")))


def run_pipeline_workload(run: Run) -> tuple:
    pages, path, sample = pipeline_inputs(run)
    if run.args.trace:
        # the local[1] baseline leg runs only here: in every run it would
        # double the run's length
        from inputs import write_sf_tables
        write_sf_tables(run.sf_dir, run.args.seed)
        order = (4, 1) if run.args.seed % 2 == 0 else (1, 4)
        units = [pipeline_unit(run, pages, path, sample, order, traced=True)]
    else:
        units = [pipeline_unit(run, pages, path, sample)
                 for _ in range(n_units(run))]
    ok = [u for u in units if all(u.values())]
    if not ok:
        return {}, {}
    wall = statistics.median(u[4]["wall_s"] for u in ok)
    table = {
        "wall_s": wall,
        "docs_per_s": N_PAGES / wall,
        "setup_s": statistics.median(leg["setup_s"] for u in ok
                                     for leg in u.values()),
        "peak_rss_mb": statistics.median(u[4]["peak_rss_mb"] for u in ok),
    }
    layers = {}
    if run.args.trace:
        table["scaling_efficiency"] = ok[0][1]["wall_s"] / (4 * wall)
        layers = pipeline_layers(run, pages, sample, ok[0])
        layers["trace.overhead_frac"] = wall / untraced_wall(run) - 1
    return table, layers


def pipeline_layers(run: Run, pages, sample, legs) -> dict:
    """Per-layer figures of a traced unit: the local[4] leg's own layers,
    its pipeline timings, the scaling of its phases and the resume path."""
    from checks import written_counts

    res = legs[4]
    layers = dict(res["layers"])
    t = res["timings"]
    layers.update({
        "pipeline.stage_write_s": t.get("stage_write"),
        "pipeline.sink_writes_s": t.get("sink_writes"),
        "pipeline.ledger_s": t.get("ledger"),
        **{f"sink.{k.split(':', 1)[1]}_s": v for k, v in t.items()
           if k.startswith("sink:")},
    })
    t1, t4 = legs[1]["timings"], t
    for key in ("stage_write", "sink_writes"):
        layers[f"scaling.{key}_efficiency"] = t1[key] / (4 * t4[key])
    # the two resume calls count as two operations; their checks:
    # K buckets first, the rest replayed, and the same rows as one shot
    r = res["resume"]
    expected = pages.expected_sink_rows(default_sinks())
    combined = {k: r["first_rows"].get(k, 0) + r["second_rows"].get(k, 0)
                for k in expected}
    want = dict(pages.ok_counts())
    want["_rejects"] = sum(n for s, n in pages.status_counts().items()
                           if s != "ok")
    problems = []
    if r["done_after_first"] != r["first_buckets"]:
        problems.append(f"{r['done_after_first']} buckets done after the "
                        f"first call, {r['first_buckets']} asked")
    run.check("run_pipeline max_buckets", problems)
    problems = []
    if layers["resume.buckets_skipped"] != r["first_buckets"] or \
            layers["resume.buckets_replayed"] != (r["n_buckets"]
                                                  - r["first_buckets"]):
        problems.append("replayed/skipped bucket counts "
                        f"{layers['resume.buckets_replayed']}/"
                        f"{layers['resume.buckets_skipped']}")
    if combined != expected:
        problems.append(f"resumed per-sink rows {combined} != {expected}")
    got = written_counts(r["root"])
    if got != want:
        problems.append(f"resumed written rows {got} != {want}")
    run.check("run_pipeline resume", problems)
    shutil.rmtree(r["root"], ignore_errors=True)
    return layers


# ---- queries ---------------------------------------------------------------

def queries_inputs(run: Run) -> None:
    """The seed's tables and the entry module's pages fixture (seed 42,
    shared by every seed, copied into the seed's fixture root)."""
    from inputs import write_sf_tables
    from logparse_rs_spark.fixtures import ensure_fixture_pair

    write_sf_tables(run.sf_dir, run.args.seed)
    common = ensure_fixture_pair(os.path.join(WORK, "common-fixtures"),
                                 1000, anonymized=True)
    dest = run.env["LPS_FIXTURE_ROOT"]
    os.makedirs(dest, exist_ok=True)
    for src in common:
        target = os.path.join(dest, os.path.basename(src))
        if not os.path.exists(target):
            shutil.copyfile(src, target)


def queries_unit(run: Run, traced: bool = False):
    from checks import compare_digest, oracle_digests
    from worker import QUERIES

    res = run.leg("queries", 4, eventlog=traced, layers=traced)
    if res is None:
        for n in QUERIES:
            run.check(n, ["leg failed"])
        return None
    # the oracle reads the same files; it is only run after the timed leg
    want = oracle_digests(QUERIES, run.sf_dir,
                          os.path.join(run.seed_dir, "oracle.json"))
    for n in QUERIES:
        problem = compare_digest(res["digests"][n], want[n])
        run.check(n, [problem] if problem else [])
    return res


def run_queries_workload(run: Run) -> tuple:
    queries_inputs(run)
    units = [u for u in (queries_unit(run, traced=bool(run.args.trace))
                         for _ in range(n_units(run))) if u]
    if not units:
        return {}, {}
    table = {
        "wall_s": statistics.median(u["wall_s"] for u in units),
        "setup_s": statistics.median(u["setup_s"] for u in units),
        "peak_rss_mb": statistics.median(u["peak_rss_mb"] for u in units),
    }
    table["suite_s"] = table["wall_s"]
    layers = {}
    if run.args.trace:
        layers = dict(units[0]["layers"])
        layers["trace.overhead_frac"] = (table["wall_s"]
                                         / untraced_wall(run) - 1)
    return table, layers


def untraced_wall(run: Run) -> float:
    """The untraced ``wall_s`` to compare a traced run with: the median of
    this checkout's untraced records of the workload, or, when there are
    none yet, one untraced unit run now."""
    walls = []
    for path in glob.glob(os.path.join(
            WORK, "records", f"{run.args.workload}-*-t0-*.json")):
        with open(path) as fh:
            wall = json.load(fh)["end_to_end"].get("wall_s")
        if wall:
            walls.append(wall)
    if walls:
        return statistics.median(walls)
    if run.args.workload == "pipeline":
        pages, path, sample = pipeline_inputs(run)
        leg = pipeline_unit(run, pages, path, sample)[4]
    else:
        leg = queries_unit(run)
    return leg["wall_s"] if leg else float("nan")


# ---- record ----------------------------------------------------------------

def n_units(run: Run) -> int:
    """Units in this run; a traced run makes one."""
    if run.args.trace:
        return 1
    return max(1, run.args.seconds // UNIT_SECONDS[run.args.workload])


def host_record(run: Run) -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    sha = "unknown"
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse",
                              "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        lines = top.stdout.split()
        if top.returncode == 0 and os.path.samefile(lines[0], ROOT):
            sha = lines[1]
    except (OSError, subprocess.SubprocessError, IndexError):
        pass
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mb": mem_kb // 1024,
            "pyspark": pyspark.__version__, "git_sha": sha,
            "seed": run.args.seed, "workload": run.args.workload,
            "seconds": run.args.seconds, "trace": run.args.trace}


def unit_of(name: str) -> str:
    if name in PER_LAYER:
        return PER_LAYER[name]
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith(("_efficiency", "_rate")) else "count"


def print_table(title: str, values: dict) -> None:
    print(title)
    for k in sorted(values):
        v = values[k]
        shown = "n/a" if v is None else f"{v:.6g}"
        print(f"  {k:<34} {shown:>14} {unit_of(k)}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(UNIT_SECONDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test must be in this checkout
    if importlib.util.find_spec("logparse_rs_spark") is None:
        sys.stderr.write(f"logparse_rs_spark is not importable from {ROOT}\n")
        return 2
    run = Run(args)
    # the oracle side in this process reads the same fixture root and tables
    os.environ.update({k: run.env[k] for k in ("LPS_FIXTURE_ROOT",
                                               "SPARK_GRAFT_TESTDATA")})
    from bench import weather_probe

    record = host_record(run)
    record["weather_start"] = weather_probe()
    try:
        workload = (run_pipeline_workload if args.workload == "pipeline"
                    else run_queries_workload)
        table, layers = workload(run)
    finally:
        record["weather_end"] = weather_probe()
        shutil.rmtree(run.dir, ignore_errors=True)
    failed = len(run.problems)
    attempted = max(run.attempted, 1)
    table["error_rate"] = failed / attempted
    stamp = time.strftime("%Y%m%dT%H%M%S")
    base = os.path.join(WORK, "records",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}")
    spans = [s for leg in run.legs for s in leg.pop("spans", [])]
    record.update({"end_to_end": table, "per_layer": layers,
                   "attempted": attempted, "failed": failed,
                   "problems": run.problems, "legs": run.legs})
    with open(base + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        from spans import self_times
        with open(base + "-spans.json", "w") as fh:
            json.dump({"spans": spans, "self_s": self_times(spans)}, fh,
                      indent=1)
    for p in run.problems:
        sys.stderr.write(f"FAILED {p['op']}: {p['problems']}\n")
    print_table(f"{args.workload} seed {args.seed}: end to end", table)
    if args.trace:
        print_table("per layer", layers)
    wanted = PER_LAYER if args.trace else END_TO_END
    source = layers if args.trace else table
    metrics = {k: {"value": source[k], "unit": u}
               for k, u in wanted.items() if source.get(k) is not None}
    if len(metrics) != len(wanted):
        failed += 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
