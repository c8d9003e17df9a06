"""Benchmark-side FNV-1a, oracle normalization and output read-back."""

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

from checks import (compare_digest, fnv1a64, result_digest,  # noqa: E402
                    written_counts)
from logparse_rs_spark.kernels import fnv1a_hash64  # noqa: E402


def test_fnv1a64_known_values():
    assert fnv1a64("") == 0xCBF29CE484222325
    assert fnv1a64("a") == 0xAF63DC4C8601EC8C
    assert fnv1a64("foobar") == 0x85944171F73967E8


def test_fnv1a64_agrees_with_the_program():
    for s in ["1,2025/01/01 00:00:00,TRAFFIC", 'x,"a, b",ü', "\x00"]:
        assert fnv1a64(s) == fnv1a_hash64(s)


def test_digest_ignores_row_order_and_normalizes_cells():
    a = result_digest([(1, 0.1 + 0.2, True), (2, None, False)],
                      ["id", "x", "flag"])
    b = result_digest([(2, None, 0), (1, 0.3, 1)], ["id", "x", "flag"])
    assert a == b


def test_digest_is_column_order_insensitive():
    a = result_digest([(1, "x")], ["id", "s"])
    b = result_digest([("x", 1)], ["s", "id"])
    assert compare_digest(a, b) is None


def test_compare_digest_reports_each_difference():
    want = result_digest([(1,), (2,)], ["n"])
    assert "rowcount" in compare_digest(result_digest([(1,)], ["n"]), want)
    assert "columns" in compare_digest(result_digest([(1,), (2,)], ["m"]),
                                       want)
    assert "hash" in compare_digest(result_digest([(1,), (3,)], ["n"]), want)
    assert compare_digest(result_digest([], ["n"]), None) is not None
    assert compare_digest(want, None) is None


def _write(root, table, partition, rows):
    path = os.path.join(root, table, partition)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(rows), os.path.join(path, "part-0.parquet"))


def test_written_counts_read_back_partitioned_sinks(tmp_path):
    root = str(tmp_path)
    _write(root, "sink_fact", "log_type=TRAFFIC/bucket=0",
           {"url": ["u1", "u2"], "hash64": [1, 2]})
    _write(root, "sink_fact", "log_type=THREAT/bucket=1",
           {"url": ["u3"], "hash64": [3]})
    _write(root, "sink_other", "bucket=0",
           {"url": ["u4"], "log_type": ["SYSTEM"]})
    _write(root, "_rejects", "bucket=2", {"url": ["u5", "u6"]})
    assert written_counts(root) == {"TRAFFIC": 2, "THREAT": 1, "SYSTEM": 1,
                                    "_rejects": 2}
