"""Sink-writer tests (SURVEY §2.1 S3/S5/S6, M1/M4).

The sandbox has no Iceberg jars, so IcebergWriter's branching
(create / append / overwritePartitions) is exercised against stub
SparkSession/DataFrame objects; the fallback and the parquet writer's
dynamic-overwrite semantics run for real.
"""

import os

import pytest

from logparse_rs_spark.sources import writers as W


class _StubV2Writer:
    def __init__(self, log, table):
        self.log, self.table = log, table

    def partitionedBy(self, *cols):
        self.log.append(("partitionedBy", self.table, len(cols)))
        return self

    def create(self):
        self.log.append(("create", self.table))

    def createOrReplace(self):
        self.log.append(("createOrReplace", self.table))

    def append(self):
        self.log.append(("append", self.table))

    def overwritePartitions(self):
        self.log.append(("overwritePartitions", self.table))


class _StubDF:
    def __init__(self, log):
        self.log = log

    def writeTo(self, table):
        return _StubV2Writer(self.log, table)


class _StubCatalog:
    def __init__(self, existing):
        self.existing = existing

    def tableExists(self, fq):
        return fq in self.existing


class _StubConf:
    def __init__(self, settings=None):
        self.settings = settings or {}

    def get(self, key, default=None):
        return self.settings.get(key, default)


class _StubSpark:
    def __init__(self, existing=(), conf=None):
        self.catalog = _StubCatalog(set(existing))
        self.conf = _StubConf(conf)
        self.sql_log = []

    def sql(self, stmt):
        self.sql_log.append(stmt)


@pytest.fixture
def iceberg_on(monkeypatch):
    monkeypatch.setattr(W, "iceberg_available", lambda spark: True)


class TestIcebergWriter:
    def test_first_write_creates(self, iceberg_on, spark):
        log = []
        w = W.IcebergWriter(_StubSpark(), "lake")
        fq = w.write(_StubDF(log), "sink_traffic", partition_by=["bucket"])
        assert fq == "lake.sink_traffic"
        assert ("partitionedBy", "lake.sink_traffic", 1) in log
        assert ("create", "lake.sink_traffic") in log

    def test_existing_overwrites_partitions(self, iceberg_on, spark):
        log = []
        w = W.IcebergWriter(_StubSpark({"lake.sink_traffic"}), "lake")
        w.write(_StubDF(log), "sink_traffic", partition_by=["bucket"])
        assert ("overwritePartitions", "lake.sink_traffic") in log
        assert not any(op == "create" for op, *_ in log)

    def test_existing_append(self, iceberg_on):
        log = []
        w = W.IcebergWriter(_StubSpark({"lake._audit"}), "lake")
        w.write(_StubDF(log), "_audit", mode="append")
        assert ("append", "lake._audit") in log

    def test_constructor_raises_without_runtime(self):
        with pytest.raises(RuntimeError):
            W.IcebergWriter(_StubSpark(), "lake")  # real availability check
            # (no jars in this sandbox)


class TestMakeWriter:
    def test_fallback_to_parquet(self, spark, tmp_path):
        w = W.make_writer(spark, str(tmp_path))
        assert isinstance(w, W.ParquetWriter)

    CAT = {"spark.sql.catalog.lake":
           "org.apache.iceberg.spark.SparkCatalog"}

    def test_prefers_iceberg_when_fully_configured(self, monkeypatch):
        monkeypatch.setattr(W, "iceberg_available", lambda spark: True)
        stub = _StubSpark(conf=self.CAT)
        w = W.make_writer(stub, "lake")
        assert isinstance(w, W.IcebergWriter)
        # the namespace is created up front, not at the first sink write
        assert stub.sql_log == ["CREATE NAMESPACE IF NOT EXISTS lake"]

    def test_jars_alone_do_not_select_iceberg(self, monkeypatch):
        # ADVICE r2: classpath presence is not enough — no configured
        # catalog means writes have nowhere to go
        monkeypatch.setattr(W, "iceberg_available", lambda spark: True)
        w = W.make_writer(_StubSpark(), "lake")
        assert isinstance(w, W.ParquetWriter)

    def test_path_out_root_never_selects_iceberg(self, monkeypatch):
        # '/tmp/out.sink_traffic' is not a valid Iceberg identifier
        monkeypatch.setattr(W, "iceberg_available", lambda spark: True)
        w = W.make_writer(_StubSpark(conf=self.CAT), "/tmp/out")
        assert isinstance(w, W.ParquetWriter)

    def test_explicit_request_validates(self, monkeypatch):
        monkeypatch.setattr(W, "iceberg_available", lambda spark: True)
        with pytest.raises(ValueError, match="not a path"):
            W.make_writer(_StubSpark(conf=self.CAT), "/tmp/out",
                          use_iceberg=True)
        with pytest.raises(ValueError):
            W.make_writer(_StubSpark(), "lake", use_iceberg=True)
        w = W.make_writer(_StubSpark(conf=self.CAT), "lake",
                          use_iceberg=True)
        assert isinstance(w, W.IcebergWriter)

    def test_env_override_forces_parquet(self, monkeypatch):
        # the override is the explicit argument: use_iceberg=False wins
        # over a fully configured Iceberg catalog
        monkeypatch.setattr(W, "iceberg_available", lambda spark: True)
        w = W.make_writer(_StubSpark(conf=self.CAT), "lake",
                          use_iceberg=False)
        assert isinstance(w, W.ParquetWriter)


class TestParquetDynamicOverwrite:
    def test_replay_replaces_only_touched_partitions(self, spark, tmp_path):
        from pyspark.sql import functions as F
        w = W.ParquetWriter(str(tmp_path))
        df = spark.range(0, 100).select(
            "id", F.pmod("id", F.lit(4)).cast("int").alias("bucket"))
        w.write(df, "t", partition_by=["bucket"])
        # replay bucket 1 with HALF the rows: only that partition changes
        replay = df.filter("bucket = 1 and id < 50")
        w.write(replay, "t", partition_by=["bucket"])
        got = w.read(spark, "t").groupBy("bucket").count().collect()
        counts = {r["bucket"]: r["count"] for r in got}
        assert counts[0] == 25 and counts[2] == 25 and counts[3] == 25
        assert counts[1] == 13  # ids 1,5,...,49


class TestIcebergWriterSurface:
    """The full writer surface plans.pipeline relies on (read/append/static)."""

    def test_static_overwrite_replaces(self, iceberg_on, spark):
        log = []
        w = W.IcebergWriter(_StubSpark({"lake._parsed_stage"}), "lake")
        w.write(_StubDF(log), "_parsed_stage", partition_by=["log_type"],
                overwrite_mode="static")
        # createOrReplace is the truncate-and-replace analog of the parquet
        # static overwrite used for the per-run parse stage
        assert not any(op == "overwritePartitions" for op, *_ in log)

    def test_read_missing_returns_none(self, iceberg_on, spark):
        w = W.IcebergWriter(_StubSpark(), "lake")
        assert w.read(_StubSpark(), "_ledger") is None

    def test_append_method(self, iceberg_on):
        log = []
        w = W.IcebergWriter(_StubSpark({"lake._audit"}), "lake")
        w.append(_StubDF(log), "_audit")
        assert ("append", "lake._audit") in log


class TestPipelineWriterInjection:
    def test_default_is_parquet_in_sandbox(self, spark, tmp_path):
        # no Iceberg jars here -> make_writer falls back; the pipeline runs
        # identically through the injected-writer path
        from logparse_rs_spark.plans.pipeline import (PipelineConfig,
                                                      default_sinks,
                                                      run_pipeline)
        from logparse_rs_spark.schema import load_schema
        from logparse_rs_spark import fixtures
        import os
        ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
        pages_path = str(tmp_path / "pages.parquet")
        fixtures.write_pages_parquet(pages_path, 60, seed=7)
        schema = load_schema(os.path.join(ROOT, "schemas", "schema.json"))
        cfg = PipelineConfig(
            schema_path=os.path.join(ROOT, "schemas", "schema.json"),
            anonymizer_path=os.path.join(ROOT, "configs",
                                         "anonymizer.sample.json"),
            out_root=str(tmp_path / "out"),
            sinks=default_sinks(schema),
            n_buckets=8)
        res = run_pipeline(spark, spark.read.parquet(pages_path), cfg,
                           resume=False)
        assert res.docs_in == 60
        assert sum(res.per_sink_rows.values()) > 0
