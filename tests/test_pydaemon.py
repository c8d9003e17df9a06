"""The get_spark Python daemon (logparse_rs_spark/pydaemon.py): a task's
`importlib.invalidate_caches()` re-reads a zip on sys.path only when the
zip changed, forked workers come from that daemon with the objects it
loaded frozen, and UDFs from the package run whatever the driver's working
directory."""

import gc
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from logparse_rs_spark import pydaemon

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))


def write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture()
def reads(monkeypatch):
    """The archives `zipimport._read_directory` reads, in call order; the
    stock `zipimporter.invalidate_caches` is put back afterwards."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    seen = []
    stock = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    write_zip(path, {"lps_zip_mod_a": 1})
    monkeypatch.syspath_prepend(path)
    for name in ("lps_zip_mod_a", "lps_zip_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    return path


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimporter.invalidate_caches is lazy from 3.13")
class TestInvalidateCaches:
    def test_unchanged_zip_is_not_reread(self, zip_on_path, reads):
        import lps_zip_mod_a
        assert lps_zip_mod_a.VALUE == 1
        del reads[:]
        pydaemon.install()              # reads and stamps the zip once
        assert reads.count(zip_on_path) == 1
        del reads[:]
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(zip_on_path) == 0

    def test_rewritten_zip_is_reread(self, zip_on_path, reads):
        import lps_zip_mod_a
        assert lps_zip_mod_a.VALUE == 1
        pydaemon.install()
        write_zip(zip_on_path, {"lps_zip_mod_a": 1, "lps_zip_mod_b": 2})
        del reads[:]
        importlib.invalidate_caches()
        assert reads.count(zip_on_path) == 1
        import lps_zip_mod_b
        assert lps_zip_mod_b.VALUE == 2


def test_stdlib_untouched_from_3_13(monkeypatch, reads):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_reused_workers_come_from_the_daemon(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        # the call PySpark's setup_spark_files makes at every task start
        n = 0
        stock = zipimport._read_directory

        def counting(archive):
            nonlocal n
            n += 1
            return stock(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        # `python -m` sets the daemon's __main__.__spec__; forks inherit it
        spec = getattr(sys.modules["__main__"], "__spec__", None)
        ours = spec is not None and spec.name == "logparse_rs_spark.pydaemon"
        frozen = gc.get_freeze_count() > 0
        return pd.Series([f"{os.getpid()} {ours} {frozen} {n}"] * len(s))

    rows = (spark.range(0, 64, numPartitions=16)
            .select(probe("id").alias("p")).collect())
    per_task = {r.p for r in rows}
    pids = {p.split()[0] for p in per_task}
    assert len(pids) < 16                     # workers were reused
    assert {p.split(None, 1)[1] for p in per_task} == {"True True 0"}


def test_package_udf_runs_from_outside_the_repo(tmp_path):
    script = (
        "import sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from logparse_rs_spark.session import get_spark\n"
        "from logparse_rs_spark.functions import fnv1a_col\n"
        "spark = get_spark('pydaemon-cwd', cores=1, shuffle_partitions=1)\n"
        "df = spark.createDataFrame([('hello',)], 's string')\n"
        "print('HASH', df.select(fnv1a_col('s').alias('h')).first().h)\n"
        "spark.stop()\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path),
                         env=env, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    # api.hash64_fnv1a("hello") == 0xA430D84680AABD0B, stored as int64
    assert f"HASH {0xA430D84680AABD0B - 2**64}" in res.stdout
