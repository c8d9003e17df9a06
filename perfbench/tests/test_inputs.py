"""The generator's recorded truth against the program's reference parser."""

import os
import sys
from collections import Counter

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

from inputs import (SF_ROWS, Pages, page_with_truth,  # noqa: E402
                    write_sf_tables)
from logparse_rs_spark import fixtures  # noqa: E402
from logparse_rs_spark.plans.pipeline import default_sinks  # noqa: E402
from logparse_rs_spark.refimpl import extract_page_records  # noqa: E402
from logparse_rs_spark.schema import load_schema  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))
SCHEMA = load_schema(os.path.join(ROOT, "schemas", "schema.json"))


def test_pages_are_the_fixture_pages():
    idx_map = fixtures._idx_map()
    for seq in range(150):
        page, _ = page_with_truth(seq, idx_map, seed=7)
        assert page == fixtures.make_page(seq, idx_map, seed=7)


def test_truth_matches_refimpl():
    pages = Pages(120, seed=3)
    statuses = Counter()
    for row in pages.rows:
        recs = extract_page_records(row["url"], row["text"], SCHEMA)
        truth = pages.truth[row["url"]]
        assert len(recs) == len(truth)
        for rec, (status, log_type, line) in zip(recs, truth):
            assert rec["status"] == status
            assert rec["line"] == line
            if status in ("ok", "unknown_type"):
                assert rec["log_type"] == log_type
            statuses[status] += 1
    assert statuses == pages.status_counts()
    # the mix exercises every status
    assert set(statuses) == {"ok", "empty", "malformed", "unknown_type"}


def test_expected_sink_rows_cover_every_sink():
    pages = Pages(80, seed=5)
    sinks = default_sinks(SCHEMA)
    expected = pages.expected_sink_rows(sinks)
    assert len(expected) == len(sinks)
    assert sum(expected.values()) == pages.status_counts()["ok"]
    assert (expected["sink_fact/log_type=TRAFFIC"]
            == pages.ok_counts()["TRAFFIC"])


def test_sf_tables_are_seeded(tmp_path):
    a = write_sf_tables(str(tmp_path / "a"), seed=9)
    b = write_sf_tables(str(tmp_path / "b"), seed=9)
    for name in ("documents", "events", "lineitem", "orders"):
        ta = pq.read_table(os.path.join(a, f"{name}.parquet"))
        assert ta.equals(pq.read_table(os.path.join(b, f"{name}.parquet")))
    assert pq.read_table(os.path.join(a, "lineitem.parquet")).num_rows == \
        SF_ROWS["lineitem"]
    assert pq.read_table(os.path.join(a, "orders.parquet")).column_names == [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"]
