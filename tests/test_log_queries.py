"""Driver-contract log queries checked against the canonical parse: the
expected-records parquet of the pages fixture, written by the pure-Python
reference implementation (the table the DuckDB oracles read)."""

import os
import sys

from pyspark.sql import functions as F

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402


def test_log_top_domains_counts_non_ok_lines(spark):
    # an error is any line whose status is not 'ok' (the parser emits
    # ok, empty, malformed and unknown_type — never 'error')
    sf = entrymod.ORACLE_SF
    got = {r["host"]: r["n_errors"] for r in
           entrymod.queries()["log_top_domains"](spark, sf).collect()}
    _, expected = entrymod._fixture_paths(sf)
    host = F.regexp_extract(F.col("url"), "^[a-z]+://([^/]+)", 1)
    want = {r["host"]: r["n"] for r in
            spark.read.parquet(expected).filter(F.col("status") != "ok")
            .groupBy(host.alias("host")).agg(F.count("*").alias("n"))
            .collect()}
    assert len(got) == 20
    assert sum(got.values()) > 0
    assert got == {h: want.get(h, 0) for h in got}
