"""North-rule launch path: the ACTUAL `spark-submit --py-files` invocation
against a multi-executor master (local-cluster = separate executor JVMs on
this machine — each with its own heap and its own Python workers), end to
end through the packaged zip. This is the closest a single sandbox box gets
to the rule's "spark-submit --py-files on a multi-executor cluster", and it
catches a class of bug the local[.] tests cannot: code that only works
because the driver's repo checkout is importable (the executors here import
from the --py-files zip)."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
SPARK_SUBMIT = os.path.join(
    os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit")


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT),
                    reason="spark-submit not installed")
def test_spark_submit_pyfiles_local_cluster(tmp_path):
    from logparse_rs_spark.fixtures import ensure_fixture_pair
    from logparse_rs_spark.plans.submit import build_pyfiles_zip

    pages_path, _ = ensure_fixture_pair(
        os.path.join(ROOT, ".fixtures"), 120, anonymized=True)
    zip_path = build_pyfiles_zip(str(tmp_path / "lps.zip"))
    out_root = str(tmp_path / "out")

    cmd = [
        SPARK_SUBMIT, "--master", "local-cluster[2,2,4096]",
        "--conf", "spark.executor.memory=3g",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.sql.session.timeZone=UTC",
        "--conf", "spark.sql.sources.partitionOverwriteMode=dynamic",
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        "--py-files", zip_path,
        os.path.join(ROOT, "jobs", "run_pipeline_job.py"),
        "--pages", pages_path,
        "--out", out_root,
        "--schema", os.path.join(ROOT, "schemas", "schema.json"),
        "--anon", os.path.join(ROOT, "configs", "anonymizer.sample.json"),
        "--buckets", "8",
    ]
    # run from OUTSIDE the repo so executors genuinely depend on --py-files
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                         cwd=str(tmp_path))
    assert res.returncode == 0, res.stderr[-3000:]
    report = json.loads(res.stdout.strip().splitlines()[-1])

    assert report["docs_in"] == 120
    assert report["buckets_processed"] == 8
    assert report["status_counts"]["ok"] > 1000
    assert report["per_sink_rows"]["sink_fact/log_type=TRAFFIC"] > 0
    assert sum(report["status_counts"].values()) == report["lines_in"]

    # routed-row equality vs an in-process local[2] run of the same job —
    # the counts must not depend on the execution topology
    from logparse_rs_spark.plans.pipeline import (
        PipelineConfig, default_sinks, run_pipeline)
    from logparse_rs_spark.schema import load_schema
    from logparse_rs_spark.session import get_spark

    spark = get_spark("submit-parity", cores=2, shuffle_partitions=8)
    schema = load_schema(os.path.join(ROOT, "schemas", "schema.json"))
    cfg = PipelineConfig(
        schema_path=os.path.join(ROOT, "schemas", "schema.json"),
        anonymizer_path=os.path.join(ROOT, "configs",
                                     "anonymizer.sample.json"),
        out_root=str(tmp_path / "out_local"),
        sinks=default_sinks(schema),
        n_buckets=8,
    )
    local = run_pipeline(
        spark, spark.read.parquet(pages_path), cfg, resume=False)
    assert local.per_sink_rows == report["per_sink_rows"]
    assert local.status_counts == report["status_counts"]


FAMILIES = ("common", "log", "doc", "events", "emb", "tpch")


def test_pyfiles_zip_carries_every_query_family(tmp_path):
    """The --py-files zip holds the queries package, and each family
    module imports from the zip alone: no repo checkout on sys.path and
    no ``__spark_entry__`` (the zip does not carry it)."""
    import zipfile

    from logparse_rs_spark.plans.submit import build_pyfiles_zip

    zip_path = build_pyfiles_zip(str(tmp_path / "lps.zip"))
    names = set(zipfile.ZipFile(zip_path).namelist())
    for family in ("__init__",) + FAMILIES:
        assert f"logparse_rs_spark/queries/{family}.py" in names

    probe = "\n".join([
        "import os, sys",
        f"root = {ROOT!r}",
        "sys.path[:] = [p for p in sys.path",
        "               if os.path.abspath(p or '.') != root]",
        f"sys.path.insert(0, {zip_path!r})",
        "import importlib",
        f"for f in {FAMILIES!r}:",
        "    m = importlib.import_module('logparse_rs_spark.queries.' + f)",
        f"    assert m.__file__.startswith({zip_path!r}), m.__file__",
        "assert '__spark_entry__' not in sys.modules",
    ])
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run([sys.executable, "-c", probe], capture_output=True,
                         text=True, timeout=300, cwd=str(tmp_path), env=env)
    assert res.returncode == 0, res.stderr[-3000:]


def _table_hash(root: str, table: str) -> str:
    """Order-insensitive sha256 of a sink table's rows, read with pyarrow
    (hive partition columns included; map entries sorted)."""
    import hashlib

    import pyarrow.dataset as ds

    rows = ds.dataset(os.path.join(root, table), format="parquet",
                      partitioning="hive").to_table().to_pylist()
    def entries(v):   # a map column reads as a list of (key, value)
        return sorted(v) if v and isinstance(v[0], tuple) else v

    norm = sorted(repr(sorted((k, entries(v) if isinstance(v, list) else v)
                              for k, v in r.items() if k != "run_id"))
                  for r in rows)
    return f"{len(rows)}:" + hashlib.sha256(
        "\n".join(norm).encode()).hexdigest()


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT),
                    reason="spark-submit not installed")
def test_documented_invocation_resumes_without_losing_buckets(tmp_path):
    """The job's documented command, with no SQL --conf (so the session
    keeps Spark's default static partitionOverwriteMode): an interrupted
    run (--max-buckets 3) and its resume write the same sink rows as a
    one-shot run."""
    from logparse_rs_spark.fixtures import ensure_fixture_pair
    from logparse_rs_spark.plans.submit import build_pyfiles_zip

    pages_path, _ = ensure_fixture_pair(
        os.path.join(ROOT, ".fixtures"), 120, anonymized=True)
    zip_path = build_pyfiles_zip(str(tmp_path / "lps.zip"))

    def submit(out, *extra):
        cmd = [SPARK_SUBMIT, "--master", "local[2]", "--py-files", zip_path,
               os.path.join(ROOT, "jobs", "run_pipeline_job.py"),
               "--pages", pages_path, "--out", out,
               "--schema", os.path.join(ROOT, "schemas", "schema.json"),
               "--anon", os.path.join(ROOT, "configs",
                                      "anonymizer.sample.json"),
               "--buckets", "8", *extra]
        res = subprocess.run(cmd, capture_output=True, text=True,
                             timeout=600, cwd=str(tmp_path))
        assert res.returncode == 0, res.stderr[-3000:]
        return json.loads(res.stdout.strip().splitlines()[-1])

    resumed, one_shot = str(tmp_path / "resumed"), str(tmp_path / "one")
    first = submit(resumed, "--max-buckets", "3")
    assert first["buckets_processed"] == 3
    second = submit(resumed)
    assert (second["buckets_skipped"], second["buckets_processed"]) == (3, 5)
    assert submit(one_shot)["buckets_processed"] == 8
    for table in ("sink_fact", "sink_other", "_rejects"):
        assert _table_hash(resumed, table) == _table_hash(one_shot, table), \
            table
