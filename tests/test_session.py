"""Session start-up caches (README "Session start-up caches"): the driver
JVM's class-data-sharing archive, recorded by the first session and mapped
by the next, and the daemon's bytecode cache for zip imports; the Python
worker warm-up of a new session (README "Python worker start-up"); plus the
CPU count and driver heap `get_spark` sizes the session by, and the confs
the spark-submit job sets on the session it is handed."""

import glob
import json
import os
import re
import runpy
import subprocess
import sys
import time
import zipfile
import zipimport

import pytest

from logparse_rs_spark import pydaemon, session

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))

# one session: a trivial JVM job, then one JSON line with the cds record
SCRIPT = r"""
import json, logging, sys
records = []
class Keep(logging.Handler):
    def emit(self, record):
        records.append(record.getMessage())
log = logging.getLogger("logparse_rs_spark.session")
log.setLevel(logging.DEBUG)
log.addHandler(Keep())
from logparse_rs_spark.session import get_spark
spark = get_spark("cds-test", cores=2)
total = spark.range(1000).selectExpr("sum(id) AS s").first().s
print(json.dumps({"records": records, "sum": total,
                  "probe": spark.conf.get("spark.lps.probe", None)}))
"""


def session_env(cache, conf_dir, java_opts="-XX:+UseG1GC"):
    env = {k: v for k, v in os.environ.items()
           if k not in session.CLASS_PATH_ENV}
    env.update({"XDG_CACHE_HOME": str(cache), "SPARK_CONF_DIR": str(conf_dir),
                "SPARK_GRAFT_DRIVER_MEM": "1g", "PYTHONPATH": ROOT,
                "SPARK_GRAFT_DRIVER_JAVA_OPTS": java_opts})
    return env


def start(env):
    return subprocess.Popen([sys.executable, "-c", SCRIPT], env=env,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True)


def finish(proc):
    """The session's result line, checked to be the last stdout line."""
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-3000:]
    last = json.loads(out.strip().splitlines()[-1])
    assert last["sum"] == 499500
    (record,) = last["records"]
    fields = dict(re.findall(r"(\w+)=(\S+)", record))
    return fields, last


def run(env):
    return finish(start(env))


def top_layer_classes(log_path):
    with open(log_path) as fh:
        return sum("source: shared objects file (top)" in ln for ln in fh)


@pytest.fixture(scope="module")
def published(tmp_path_factory):
    """A cache in which one session recorded and published an archive."""
    base = tmp_path_factory.mktemp("cds")
    (base / "conf").mkdir()
    env = session_env(base / "cache", base / "conf")
    fields, _ = run(env)
    assert fields["mode"] == "recording", fields
    return env, fields["archive"]


def test_first_session_records_and_the_second_maps(published, tmp_path):
    env, archive = published
    size_file = archive[:-len(".jsa")] + ".size"
    with open(size_file) as fh:
        assert int(fh.read()) == os.path.getsize(archive) > 0
    assert not glob.glob(os.path.join(os.path.dirname(archive), "*.part"))
    log = tmp_path / "class-load.log"
    fields, _ = run(dict(env, SPARK_GRAFT_DRIVER_JAVA_OPTS=(
        f"-XX:+UseG1GC -Xlog:class+load:file={log}")))
    assert fields["mode"] == "mapped" and fields["archive"] == archive
    assert top_layer_classes(log) >= 10_000


def test_truncated_archive_records_again(published):
    env, archive = published
    os.chmod(archive, 0o644)
    with open(archive, "r+b") as fh:
        fh.truncate(os.path.getsize(archive) // 2)
    fields, _ = run(env)  # the JVM dies on mapping a truncated archive
    assert fields["mode"] == "recording"
    with open(archive[:-len(".jsa")] + ".size") as fh:
        assert int(fh.read()) == os.path.getsize(archive)


def test_conf_dir_with_real_files_turns_sharing_off(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.lps.probe 42\n")
    fields, last = run(session_env(tmp_path / "cache", conf))
    assert fields["mode"] == "off"
    assert "holds real files" in last["records"][0]
    assert last["probe"] == "42"
    assert not (tmp_path / "cache" / "logparse_rs_spark" / "cds").exists()


def test_concurrent_first_sessions_publish_whole_archives(tmp_path):
    (tmp_path / "conf").mkdir()
    env = session_env(tmp_path / "cache", tmp_path / "conf")
    procs = [start(env), start(env)]
    cds = tmp_path / "cache" / "logparse_rs_spark" / "cds"
    seen = {}  # inode -> sizes seen at the published path
    while any(p.poll() is None for p in procs):
        for path in glob.glob(str(cds / "*.jsa")):
            try:
                st = os.stat(path)
            except FileNotFoundError:
                continue
            seen.setdefault(st.st_ino, set()).add(st.st_size)
        time.sleep(0.05)
    modes = {finish(p)[0]["mode"] for p in procs}
    assert modes == {"recording"}
    (archive,) = glob.glob(str(cds / "*.jsa"))
    # a file that grew while at the published path was written in place
    assert all(len(sizes) == 1 for sizes in seen.values()), seen
    with open(archive[:-len(".jsa")] + ".size") as fh:
        assert int(fh.read()) == os.path.getsize(archive)
    assert not glob.glob(str(cds / "*.part"))


class TestClassSharingPlan:
    @pytest.fixture(autouse=True)
    def plain_class_path(self, monkeypatch):
        for k in session.CLASS_PATH_ENV:
            monkeypatch.delenv(k, raising=False)

    def test_overridden_java_options_turn_it_off(self):
        plan = session.class_sharing({"spark.driver.memory": "1g"}, True)
        assert plan.mode == "off" and session.JAVA_OPTS in plan.reason
        assert plan.java_options("-XX:+UseG1GC") == "-XX:+UseG1GC"

    def test_unwritable_cache_turns_it_off(self, tmp_path, monkeypatch):
        (tmp_path / "file").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
        monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "none"))
        plan = session.class_sharing({"spark.driver.memory": "1g"}, False)
        assert plan.mode == "off" and "not writable" in plan.reason

    def test_key_follows_the_heap(self, tmp_path, monkeypatch):
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
        monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "none"))
        small, big = (session.class_sharing({"spark.driver.memory": m}, False)
                      for m in ("1g", "48g"))
        assert small.mode == big.mode == "recording"
        assert small.key != big.key
        opts = small.java_options("-XX:+UseG1GC")
        assert opts.startswith(session.JVM_OUTPUT_TO_STDERR)
        assert opts.endswith(f"-XX:ArchiveClassesAtExit={small.part}")


def test_default_parallelism_counts_the_cpus_this_process_may_use(
        monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1})
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    assert session.default_parallelism() == 2


@pytest.mark.parametrize("usable, heap", [
    (16 << 30, "8g"), (15_000 << 20, "7500m"), (200 << 30, "48g")])
def test_driver_heap_fits_the_memory_this_process_may_use(
        monkeypatch, usable, heap):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "usable_memory_bytes", lambda: usable)
    assert session.driver_memory() == heap
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert session.driver_memory() == "1g"


def test_usable_memory_takes_the_lower_cgroup_limit(tmp_path, monkeypatch):
    v2, v1 = tmp_path / "memory.max", tmp_path / "limit_in_bytes"
    v2.write_text("max\n")
    v1.write_text(f"{1 << 30}\n")
    monkeypatch.setattr(session, "CGROUP_MEMORY_LIMITS", (str(v2), str(v1)))
    assert session.usable_memory_bytes() == 1 << 30
    v1.write_text(f"{1 << 62}\n")
    assert session.usable_memory_bytes() == (
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))


# a fresh session without the cds archive (whose recording delays the exit):
# argv[1] "stop" stops it at once; otherwise argv[1] is an event log dir, and
# the script waits for the warm-up, notes the workers the daemon has forked,
# calls get_spark again, runs one pandas-UDF job that reports its workers'
# pids, and prints both sets
WARMUP_SCRIPT = r"""
import json, os, sys, threading
from logparse_rs_spark.session import JAVA_OPTS, get_spark
conf = {JAVA_OPTS: "-XX:+UseG1GC"}
if sys.argv[1] == "stop":
    get_spark("warmup-test", cores=2, extra_conf=conf).stop()
    sys.exit(0)
conf.update({"spark.eventLog.enabled": "true",
             "spark.eventLog.compress": "false",
             "spark.eventLog.dir": "file://" + sys.argv[1]})
spark = get_spark("warmup-test", cores=2, extra_conf=conf)
for t in threading.enumerate():
    if t.name == "python-warmup":
        t.join()


def children(pid):
    out = set()
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/stat") as fh:
                if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                    out.add(int(entry))
        except (OSError, ValueError):
            pass
    return out


daemons = [p for p in children(spark.sparkContext._gateway.proc.pid)
           if b"logparse_rs_spark.pydaemon" in
           open(f"/proc/{p}/cmdline", "rb").read()]
forked = set().union(*map(children, daemons))
spark = get_spark("warmup-test", cores=2, extra_conf=conf)
import pandas as pd
from pyspark.sql import functions as F


@F.pandas_udf("long")
def worker_pid(ids: pd.Series) -> pd.Series:
    return pd.Series(os.getpid(), index=ids.index)


used = {r[0] for r in
        spark.range(8, numPartitions=2).select(worker_pid("id")).collect()}
spark.stop()
print(json.dumps({"forked": sorted(forked), "used": sorted(used)}))
"""


def run_warmup_script(arg):
    res = subprocess.run(
        [sys.executable, "-c", WARMUP_SCRIPT, arg], capture_output=True,
        text=True, timeout=300,
        env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=ROOT))
    assert res.returncode == 0, res.stderr[-3000:]
    return res


class TestPythonWarmup:
    @pytest.fixture(scope="class")
    def warmed(self, tmp_path_factory):
        """The script's pids and the session's event log records."""
        logs = tmp_path_factory.mktemp("eventlog")
        res = run_warmup_script(str(logs))
        (path,) = glob.glob(str(logs / "*" / "events_*"))
        with open(path) as fh:
            events = [json.loads(ln) for ln in fh]
        return json.loads(res.stdout.strip().splitlines()[-1]), events

    def test_first_udf_job_runs_in_workers_forked_before_it(self, warmed):
        pids, _ = warmed
        assert len(pids["forked"]) == 2  # one per task slot
        assert set(pids["used"]) <= set(pids["forked"])

    def test_one_described_warmup_job_per_context(self, warmed):
        _, events = warmed
        starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
        warm = [e for e in starts if e["Properties"].get(
            "spark.job.description") == session.WARMUP_JOB]
        assert len(warm) == 1
        (stage,) = warm[0]["Stage Infos"]
        assert stage["Number of Tasks"] == 2
        assert len(starts) == 2  # the warm-up and the pid job

    def test_stop_right_after_the_session_starts_is_silent(self):
        res = run_warmup_script("stop")
        assert res.stdout == ""
        noise = [ln for ln in res.stderr.splitlines()
                 if re.search(r"ERROR|Exception|Traceback|\[Stage", ln)]
        assert not noise, res.stderr[-3000:]


def test_job_sets_the_result_confs_on_the_session_it_is_handed(
        spark, monkeypatch):
    from pyspark.sql import SparkSession

    handed = spark.newSession()
    for key in session.RESULT_CONFS:
        handed.conf.unset(key)
    assert not session.RESULT_CONFS.keys() & handed.conf.getAll.keys()
    warmed = []
    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: handed)
    monkeypatch.setattr(session, "warm_python_workers", warmed.append)
    job = runpy.run_path(os.path.join(ROOT, "jobs", "run_pipeline_job.py"))
    assert job["job_session"]() is handed
    assert {k: handed.conf.get(k) for k in session.RESULT_CONFS} == (
        session.RESULT_CONFS)
    assert warmed == [handed]


class TestZipBytecodeCache:
    @pytest.fixture()
    def compiles(self, monkeypatch):
        """The sources zipimport compiles, through the cache once it is
        installed; the stock hook is put back afterwards."""
        stock = zipimport._compile_source
        seen = []

        def counting(pathname, source):
            seen.append(source)
            return stock(pathname, source)

        monkeypatch.setattr(zipimport, "_compile_source", counting)
        return seen

    @staticmethod
    def get_code(path, source):
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr("lps_bc_mod.py", source)
        zipimport._zip_directory_cache.pop(path, None)
        return zipimport.zipimporter(path).get_code("lps_bc_mod")

    def test_second_import_is_served_from_the_cache(self, tmp_path,
                                                    compiles):
        pydaemon.cache_zip_bytecode(str(tmp_path / "pyc"))
        path = str(tmp_path / "mods.zip")
        source = "VALUE = [i * 2 for i in range(3)]\n"
        first = self.get_code(path, source)
        second = self.get_code(path, source)
        assert len(compiles) == 1
        pathname = os.path.join(path, "lps_bc_mod.py")
        want = compile(source, pathname, "exec", dont_inherit=True)
        assert first == second == want
        assert second.co_filename == pathname
        assert os.listdir(tmp_path / "pyc") == [sys.implementation.cache_tag]
        changed = self.get_code(path, "VALUE = 7\n")
        assert len(compiles) == 2
        assert changed == compile("VALUE = 7\n", pathname, "exec",
                                  dont_inherit=True)

    def test_unreadable_entry_is_compiled_again(self, tmp_path, compiles):
        pydaemon.cache_zip_bytecode(str(tmp_path / "pyc"))
        path = str(tmp_path / "mods.zip")
        self.get_code(path, "VALUE = 1\n")
        (entry,) = glob.glob(str(tmp_path / "pyc" / "*" / "*"))
        with open(entry, "wb") as fh:
            fh.write(b"\xff")
        ns = {}
        exec(self.get_code(path, "VALUE = 1\n"), ns)
        assert ns["VALUE"] == 1 and len(compiles) == 2

    def test_missing_hook_point_leaves_zipimport_alone(self, tmp_path,
                                                       monkeypatch):
        monkeypatch.delattr(zipimport, "_compile_source")
        pydaemon.cache_zip_bytecode(str(tmp_path))
        assert not hasattr(zipimport, "_compile_source")
