"""Session start-up caches (README "Session start-up caches"): the driver
JVM's class-data-sharing archive, recorded by the first session and mapped
by the next, and the daemon's bytecode cache for zip imports; plus the
CPU count `get_spark` sizes `local[N]` by."""

import glob
import json
import os
import re
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
