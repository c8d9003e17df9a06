"""End-to-end pipeline tests: fan-out sinks with routed-row equality vs the
reference implementation, per-partition metrics/lineage, audit sink, and
checkpoint-based resume (kill after K of N buckets -> rerun replays only the
rest, final tables identical)."""

import os

import pytest
from pyspark.sql import functions as F

from logparse_rs_spark import fixtures
from logparse_rs_spark.plans.pipeline import (
    LEDGER_TABLE,
    METRICS_TABLE,
    REJECTS_TABLE,
    PipelineConfig,
    SinkSpec,
    run_pipeline,
)
from logparse_rs_spark.sources.writers import ParquetWriter

N_PAGES = 120
ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))


@pytest.fixture(scope="module")
def pages_cols():
    return fixtures.generate_pages(N_PAGES, seed=7)


@pytest.fixture(scope="module")
def pages_df(spark, pages_cols):
    import pandas as pd
    pdf = pd.DataFrame({k: pages_cols[k] for k in ("url", "text", "lang")})
    return spark.createDataFrame(pdf)


@pytest.fixture()
def cfg(tmp_path):
    return PipelineConfig(
        schema_path=os.path.join(ROOT, "schemas", "schema.json"),
        anonymizer_path=os.path.join(ROOT, "configs", "anonymizer.sample.json"),
        out_root=str(tmp_path / "out"),
        sinks=[
            SinkSpec("TRAFFIC", "sink_traffic",
                     columns=["source_address", "destination_address",
                              "application", "action"]),
            SinkSpec("THREAT", "sink_threat",
                     columns=["source_address", "destination_address"]),
            SinkSpec("SYSTEM", "sink_system"),
        ],
        n_buckets=16,
    )


def expected_type_counts(pages_cols, full_schema):
    recs = fixtures.expected_records(pages_cols, full_schema)
    counts = {}
    for r in recs:
        if r["status"] == "ok":
            counts[r["log_type"]] = counts.get(r["log_type"], 0) + 1
    return counts, recs


class TestPipeline:
    def test_end_to_end(self, spark, pages_df, pages_cols, full_schema,
                        sample_anon, cfg):
        result = run_pipeline(spark, pages_df, cfg)
        want_counts, recs = expected_type_counts(pages_cols, full_schema)

        # routed-row equality per sink (the north-rule exactness criterion)
        assert result.per_sink_rows["sink_traffic"] == want_counts["TRAFFIC"]
        assert result.per_sink_rows["sink_threat"] == want_counts["THREAT"]
        assert result.per_sink_rows["sink_system"] == want_counts["SYSTEM"]
        # a one-type columnar table is written like a multi-type one:
        # partitioned by (log_type, bucket), one log_type directory
        for table, t in (("sink_traffic", "TRAFFIC"),
                         ("sink_threat", "THREAT"), ("sink_system", "SYSTEM")):
            dirs = os.listdir(os.path.join(cfg.out_root, table))
            assert [d for d in dirs if d.startswith("log_type=")] == \
                [f"log_type={t}"], table

        writer = ParquetWriter(cfg.out_root)
        traffic = writer.read(spark, "sink_traffic")
        assert traffic.count() == want_counts["TRAFFIC"]

        # anonymized content parity on a sample of rows
        recs_anon = fixtures.expected_records(pages_cols, full_schema, sample_anon)
        want = {(r["url"], r["line_ordinal"]): r for r in recs_anon
                if r["status"] == "ok" and r["log_type"] == "TRAFFIC"}
        got = traffic.collect()
        assert len(got) == len(want)
        for row in got[:200]:
            e = want[(row["url"], row["line_ordinal"])]
            assert row["source_address"] == e["parsed"]["source_address"]
            assert row["action"] == e["parsed"]["action"]

        # rejects side output
        rejects = writer.read(spark, REJECTS_TABLE)
        want_rej = sum(1 for r in recs if r["status"] != "ok")
        assert rejects.count() == want_rej

        # metrics: per-partition rows reconcile with totals
        metrics = writer.read(spark, METRICS_TABLE)
        agg = metrics.agg(F.sum("rows_in").alias("ri"),
                          F.sum("rows_ok").alias("ro")).collect()[0]
        assert agg["ri"] == len(recs)
        assert agg["ro"] == sum(want_counts.values())

        # ledger: every bucket committed once
        ledger = writer.read(spark, LEDGER_TABLE)
        assert ledger.filter("status = 'done'").count() == result.buckets_processed
        assert result.buckets_skipped == 0

    def test_resume_after_partial_run(self, spark, pages_df, pages_cols,
                                      full_schema, cfg):
        # full reference run into a separate root
        full_cfg = PipelineConfig(**{**cfg.__dict__,
                                     "out_root": cfg.out_root + "_full"})
        full = run_pipeline(spark, pages_df, full_cfg)

        # simulated kill: process only 5 buckets, then "restart"
        r1 = run_pipeline(spark, pages_df, cfg, max_buckets=5)
        assert r1.buckets_processed == 5
        r2 = run_pipeline(spark, pages_df, cfg)
        # only the unfinished buckets replayed
        assert r2.buckets_skipped == 5
        assert r2.buckets_processed == full.buckets_processed - 5

        # final sink contents identical to the uninterrupted run
        writer = ParquetWriter(cfg.out_root)
        full_writer = ParquetWriter(full_cfg.out_root)
        for table in ("sink_traffic", "sink_threat", "sink_system"):
            got = writer.read(spark, table)
            want = full_writer.read(spark, table)
            assert got.count() == want.count(), table
            assert (got.exceptAll(want).count() == 0
                    and want.exceptAll(got).count() == 0), table

        # idempotent replay: rerunning when everything is done is a no-op
        r3 = run_pipeline(spark, pages_df, cfg)
        assert r3.buckets_processed == 0
        assert r3.docs_in == 0
        got = writer.read(spark, "sink_traffic")
        want = full_writer.read(spark, "sink_traffic")
        assert got.exceptAll(want).count() == 0

    def test_force_rerun_overwrites_idempotently(self, spark, pages_df, cfg):
        r1 = run_pipeline(spark, pages_df, cfg)
        r2 = run_pipeline(spark, pages_df, cfg, resume=False)
        writer = ParquetWriter(cfg.out_root)
        traffic = writer.read(spark, "sink_traffic")
        # dynamic partition overwrite: same rows once, not duplicated
        assert traffic.count() == r1.per_sink_rows["sink_traffic"]
        assert r2.per_sink_rows["sink_traffic"] == r1.per_sink_rows["sink_traffic"]
        assert traffic.select("url", "line_ordinal").distinct().count() == \
            traffic.count()
