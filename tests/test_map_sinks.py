"""Narrow-sink tests (the default_sinks shape): the long-tail types
share one map-payload table partitioned by bucket, TRAFFIC/THREAT share
one columnar fact table; the type-erased parsed map and the fact
columns must equal the reference implementation's parsed dict
(anonymized), per-type routed counts stay exact, every bucket directory
holds one file, rejects keep the reference's dispatch value, and a resumed
run writes the same rows as a one-shot run."""

import hashlib
import os
import re

import pytest
from pyspark.sql import functions as F

from logparse_rs_spark import fixtures
from logparse_rs_spark.plans.pipeline import (
    LEDGER_TABLE,
    METRICS_TABLE,
    REJECTS_TABLE,
    STAGE_TABLE,
    PipelineConfig,
    build_map_payload,
    default_sinks,
    run_pipeline,
)
from logparse_rs_spark.sources.writers import ParquetWriter

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
N_BUCKETS = 8
# USERID `user` is map-mode in the sample config: two dictionary hits and
# one miss that falls back to tokenize (generated pages never hit the map)
USERID_USERS = ("alice", "bob", "zed")


def _extra_pages(full_schema) -> list:
    pos = dict(full_schema.effective_positions("USERID"))["user"]
    lines = []
    for user in USERID_USERS:
        fields = [f"v{i}" for i in range(46)]
        fields[0], fields[3], fields[pos] = "1", "USERID", user
        lines.append(",".join(fields))
    return [
        {"url": "http://userid.example/map-mode", "text": "\n".join(lines)},
        # a 3-field line without a trailing comma dispatches on a phantom
        # "" type (unknown_type, log_type ""); the generator makes none
        {"url": "http://edge.example/empty-type", "text": "a,b,c\nx,y"},
    ]


@pytest.fixture(scope="module")
def pages_cols(full_schema):
    pages = fixtures.generate_pages(100, seed=11)
    for page in _extra_pages(full_schema):
        for k, v in {"warc_ts": None, "html": b"", "lang": "en",
                     **page}.items():
            pages[k].append(v)
    return pages


@pytest.fixture(scope="module")
def pages_df(spark, pages_cols):
    import pandas as pd
    pdf = pd.DataFrame({k: pages_cols[k] for k in ("url", "text", "lang")})
    return spark.createDataFrame(pdf)


def narrow_cfg(full_schema, out: str) -> PipelineConfig:
    return PipelineConfig(
        schema_path=os.path.join(ROOT, "schemas", "schema.json"),
        anonymizer_path=os.path.join(ROOT, "configs", "anonymizer.sample.json"),
        out_root=out,
        sinks=default_sinks(full_schema),
        n_buckets=N_BUCKETS,
    )


@pytest.fixture(scope="module")
def result_and_root(spark, pages_df, full_schema, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("map_sinks"))
    return run_pipeline(spark, pages_df, narrow_cfg(full_schema, out)), out


@pytest.fixture(scope="module")
def anon_records(pages_cols, full_schema, sample_anon):
    recs = fixtures.expected_records(pages_cols, full_schema, sample_anon)
    return {(r["url"], r["line_ordinal"]): r for r in recs
            if r["status"] == "ok"}


def comparable(df):
    """Set operations reject map columns: compare the map payload as its
    sorted entry array."""
    if "parsed" in df.columns:
        df = df.withColumn("parsed", F.array_sort(F.map_entries("parsed")))
    return df


def row_hash(df) -> str:
    """Order-insensitive hash of every row of ``df``."""
    rows = sorted(repr(tuple(r)) for r in comparable(df).collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


class TestMapSinks:
    def test_per_type_counts_exact(self, spark, result_and_root, pages_cols,
                                   full_schema):
        result, out = result_and_root
        recs = fixtures.expected_records(pages_cols, full_schema)
        want = {}
        for r in recs:
            if r["status"] == "ok":
                want[r["log_type"]] = want.get(r["log_type"], 0) + 1
        # folded columnar fact table (one write job, (log_type,bucket) dirs)
        assert result.per_sink_rows["sink_fact/log_type=TRAFFIC"] == \
            want["TRAFFIC"]
        assert result.per_sink_rows["sink_fact/log_type=THREAT"] == \
            want["THREAT"]
        fact = ParquetWriter(out).read(spark, "sink_fact")
        got_fact = {r["log_type"]: r["count"]
                    for r in fact.groupBy("log_type").count().collect()}
        assert got_fact == {"TRAFFIC": want["TRAFFIC"],
                            "THREAT": want["THREAT"]}
        # map-payload union table, per-type partition counts
        other = ParquetWriter(out).read(spark, "sink_other")
        got = {r["log_type"]: r["count"]
               for r in other.groupBy("log_type").count().collect()}
        for t, n in want.items():
            if t in ("TRAFFIC", "THREAT"):
                continue
            assert got[t] == n, t
            assert result.per_sink_rows[f"sink_other/log_type={t}"] == n

    # SYSTEM has one anonymized field; the others two or more, each at its
    # own position per type, so a payload that picks a field's position
    # for the wrong type shows up here
    @pytest.mark.parametrize("log_type", ["SYSTEM", "DECRYPTION", "SCTP",
                                          "HIPMATCH", "USERID"])
    def test_map_payload_matches_refimpl(self, spark, result_and_root,
                                         anon_records, log_type):
        _, out = result_and_root
        other = ParquetWriter(out).read(spark, "sink_other")
        rows = other.filter(F.col("log_type") == log_type).collect()
        want = {k: r for k, r in anon_records.items()
                if r["log_type"] == log_type}
        assert rows and len(rows) == len(want)
        for row in rows:
            e = want[(row["url"], row["line_ordinal"])]
            assert dict(row["parsed"]) == e["parsed"], (row["url"],
                                                        row["line_ordinal"])
            assert row["hash64"] & (2**64 - 1) == e["hash64"]
        if log_type == "USERID":
            users = {dict(r["parsed"])["user"] for r in rows}
            assert {"user_001", "user_002"} <= users
            assert any(u.startswith("USR_") for u in users)

    @pytest.mark.parametrize("log_type", ["THREAT", "TRAFFIC"])
    def test_fact_rows_match_refimpl(self, spark, result_and_root,
                                     anon_records, log_type):
        _, out = result_and_root
        fact = ParquetWriter(out).read(spark, "sink_fact")
        rows = fact.filter(F.col("log_type") == log_type).collect()
        want = {k: r for k, r in anon_records.items()
                if r["log_type"] == log_type}
        assert rows and len(rows) == len(want)
        dims = [c for c in fact.columns if c not in (
            "url", "line_ordinal", "raw_excerpt", "hash64", "log_type",
            "bucket")]
        for row in rows:
            e = want[(row["url"], row["line_ordinal"])]
            for d in dims:
                assert row[d] == e["parsed"].get(d), (row["url"], d)
            assert row["raw_excerpt"] == e["raw_excerpt"]
            assert row["hash64"] & (2**64 - 1) == e["hash64"]

    def test_rejects_match_refimpl(self, spark, result_and_root,
                                   pages_cols, full_schema):
        _, out = result_and_root
        got = {(r["url"], r["line_ordinal"]): (r["status"], r["log_type"],
                                               r["line"])
               for r in ParquetWriter(out).read(spark, REJECTS_TABLE)
               .collect()}
        want = {(r["url"], r["line_ordinal"]): (r["status"], r["log_type"],
                                                r["line"])
                for r in fixtures.expected_records(pages_cols, full_schema)
                if r["status"] != "ok"}
        assert got == want
        assert got[("http://edge.example/empty-type", 0)] == \
            ("unknown_type", "", "a,b,c")

    def test_one_tokenize_per_field(self, spark, result_and_root,
                                    full_schema, sample_anon):
        # a Python UDF inside a when branch runs on every input row, so the
        # payload must tokenize each anonymized name once over all types:
        # device_name, source_address, destination_address, rule, user
        _, out = result_and_root
        stage = ParquetWriter(out).read(spark, STAGE_TABLE)
        types = [s.log_type for s in default_sinks(full_schema)
                 if s.payload == "map"]
        payload = build_map_payload(stage, full_schema, types, sample_anon)
        plan = payload._jdf.queryExecution().executedPlan().toString()
        evals = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
        assert sum(len(re.findall(r"\b_tok\(", ln)) for ln in evals) == 5


class TestNarrowLayout:
    def test_stage_partitioned_by_bucket(self, result_and_root):
        _, out = result_and_root
        dirs = os.listdir(os.path.join(out, STAGE_TABLE))
        parts = [d for d in dirs if "=" in d]
        assert parts and all(d.startswith("bucket=") for d in parts)

    @pytest.mark.parametrize("table", ["sink_fact", "sink_other",
                                       REJECTS_TABLE])
    def test_one_file_per_bucket_dir(self, result_and_root, table):
        _, out = result_and_root
        bucket_dirs = 0
        for d, _sub, names in os.walk(os.path.join(out, table)):
            if os.path.basename(d).startswith("bucket="):
                bucket_dirs += 1
                files = [n for n in names if n.endswith(".parquet")]
                assert len(files) == 1, (d, files)
        assert bucket_dirs > 0

    def test_bookkeeping_schemas(self, spark, result_and_root):
        _, out = result_and_root
        writer = ParquetWriter(out)
        want = {
            METRICS_TABLE: "part_id int, bucket int, rows_in bigint, "
                           "rows_ok bigint, rows_rejected bigint, "
                           "bytes_in bigint, run_id string",
            LEDGER_TABLE: "bucket int, rows_in bigint, rows_ok bigint, "
                          "docs bigint, status string, run_id string, "
                          "committed_at timestamp",
        }
        for table, ddl in want.items():
            got = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                            for f in writer.read(spark, table).schema)
            assert got == ddl, table


class TestNarrowResume:
    def test_resume_matches_one_shot(self, spark, pages_df, full_schema,
                                     result_and_root, tmp_path):
        full, full_root = result_and_root
        cfg = narrow_cfg(full_schema, str(tmp_path / "resumed"))
        r1 = run_pipeline(spark, pages_df, cfg, max_buckets=3)
        assert r1.buckets_processed == 3
        r2 = run_pipeline(spark, pages_df, cfg)
        assert r2.buckets_skipped == 3
        assert r2.buckets_processed == full.buckets_processed - 3
        writer, full_writer = ParquetWriter(cfg.out_root), \
            ParquetWriter(full_root)
        for table in ("sink_fact", "sink_other", REJECTS_TABLE):
            got = comparable(writer.read(spark, table))
            want = comparable(full_writer.read(spark, table))
            assert got.schema == want.schema, table
            assert got.count() == want.count(), table
            assert (got.exceptAll(want).count() == 0
                    and want.exceptAll(got).count() == 0), table


class TestResumeUnderStaticSession:
    """A spark-submit session keeps Spark's default partition overwrite
    mode, static. The sink writes state dynamic themselves, so a resumed
    run still keeps the buckets the interrupted run committed."""

    def test_resume_matches_one_shot(self, spark, pages_df, full_schema,
                                     result_and_root, tmp_path):
        _, full_root = result_and_root
        key = "spark.sql.sources.partitionOverwriteMode"
        before = spark.conf.get(key)
        spark.conf.set(key, "static")
        try:
            cfg = narrow_cfg(full_schema, str(tmp_path / "static"))
            r1 = run_pipeline(spark, pages_df, cfg, max_buckets=3)
            assert r1.buckets_processed == 3
            r2 = run_pipeline(spark, pages_df, cfg)
            assert r2.buckets_skipped == 3
        finally:
            spark.conf.set(key, before)
        writer, full_writer = ParquetWriter(cfg.out_root), \
            ParquetWriter(full_root)
        for table in ("sink_fact", "sink_other", REJECTS_TABLE):
            assert row_hash(writer.read(spark, table)) == \
                row_hash(full_writer.read(spark, table)), table
