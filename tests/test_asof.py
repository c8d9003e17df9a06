"""As-of join operator (operators/asof.py): semantics vs a brute-force
pandas reference, tie/edge behavior, direction, tolerance."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logparse_rs_spark.operators.asof import asof_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        pd.DataFrame({
            "k": [1, 1, 1, 2, 2, 3],
            "ts": [_ts("2021-01-01T00:00:10"), _ts("2021-01-01T00:00:20"),
                   _ts("2021-01-01T00:00:05"), _ts("2021-01-01T00:00:15"),
                   _ts("2021-01-01T00:00:02"), _ts("2021-01-01T00:00:30")],
            "lv": [10.0, 20.0, 5.0, 15.0, 2.0, 30.0],
        }))
    right = spark.createDataFrame(
        pd.DataFrame({
            "k": [1, 1, 2, 4],
            "ts": [_ts("2021-01-01T00:00:10"), _ts("2021-01-01T00:00:18"),
                   _ts("2021-01-01T00:00:14"), _ts("2021-01-01T00:00:01")],
            "rv": [100.0, 200.0, 300.0, 400.0],
        }))
    return left, right


def _collect(df):
    rows = df.orderBy("k", "ts").collect()
    return [(r["k"], r["ts"].second, r["rv_asof"]) for r in rows]


class TestAsofBackward:
    def test_semantics(self, frames):
        left, right = frames
        out = asof_join(left, right, on="k", value_cols=["rv"])
        got = _collect(out)
        # k=1: ts=5 -> no prior; ts=10 -> tie matches (inclusive) 100;
        # ts=20 -> 200. k=2: ts=2 -> none; ts=15 -> 300. k=3: no right rows.
        assert got == [(1, 5, None), (1, 10, 100.0), (1, 20, 200.0),
                       (2, 2, None), (2, 15, 300.0), (3, 30, None)]

    def test_matched_ts_carried(self, frames):
        left, right = frames
        out = asof_join(left, right, on="k", value_cols=["rv"])
        r = {(x["k"], x["ts"].second): x["ts_asof"]
             for x in out.collect()}
        assert r[(1, 20)].second == 18
        assert r[(1, 10)].second == 10  # inclusive tie
        assert r[(3, 30)] is None

    def test_matches_pandas_merge_asof(self, spark):
        # fuzz vs pandas.merge_asof on ~500 rows (pandas is backward +
        # inclusive-tie by default — the same contract)
        import numpy as np
        rng = np.random.RandomState(7)
        base = dt.datetime(2021, 1, 1)
        lpd = pd.DataFrame({
            "k": rng.randint(0, 8, 300),
            "ts": [base + dt.timedelta(seconds=int(s))
                   for s in rng.randint(0, 5000, 300)],
            "lv": rng.rand(300),
        })
        rpd = pd.DataFrame({
            "k": rng.randint(0, 8, 200),
            "ts": [base + dt.timedelta(seconds=int(s))
                   for s in rng.randint(0, 5000, 200)],
            "rv": rng.rand(200),
        })
        # unique (k, ts) on the right for determinism of both systems
        rpd = rpd.groupby(["k", "ts"], as_index=False).agg({"rv": "max"})
        want = pd.merge_asof(
            lpd.sort_values(["ts", "k"]).reset_index(drop=True),
            rpd.sort_values(["ts", "k"]).reset_index(drop=True),
            on="ts", by="k")
        out = asof_join(spark.createDataFrame(lpd),
                        spark.createDataFrame(rpd),
                        on="k", value_cols=["rv"])
        got = out.toPandas()
        wkey = {(r.k, r.ts, round(r.lv, 9)):
                (None if pd.isna(r.rv) else round(r.rv, 9))
                for r in want.itertuples()}
        for r in got.itertuples():
            assert wkey[(r.k, r.ts, round(r.lv, 9))] == \
                (None if pd.isna(r.rv_asof) else round(r.rv_asof, 9))


class TestAsofNullValue:
    def test_null_in_best_row_stays_null(self, spark):
        # the best-matching right row's NULL value must NOT be backfilled
        # from an older right row, and all carried fields must come from
        # the SAME right row (regression: per-column last(ignorenulls))
        left = spark.createDataFrame(
            pd.DataFrame({"k": [1], "ts": [_ts("2021-01-01T00:00:10")],
                          "lv": [1.0]}))
        right = spark.createDataFrame(
            pd.DataFrame({
                "k": [1, 1],
                "ts": [_ts("2021-01-01T00:00:05"),
                       _ts("2021-01-01T00:00:08")],
                "rv": [100.0, None],
                "rw": [7.0, 8.0],
            }))
        r = asof_join(left, right, on="k",
                      value_cols=["rv", "rw"]).collect()[0]
        assert r["ts_asof"].second == 8
        assert r["rv_asof"] is None   # NULL in the matched row, kept NULL
        assert r["rw_asof"] == 8.0    # same row as the matched ts


class TestAsofVariants:
    def test_forward(self, frames):
        left, right = frames
        out = asof_join(left, right, on="k", value_cols=["rv"],
                        direction="forward")
        got = _collect(out)
        # k=1: ts=5 -> next is 10 (100); ts=10 -> inclusive tie 100;
        # ts=20 -> none after. k=2: ts=2 -> 300@14; ts=15 -> none.
        assert got == [(1, 5, 100.0), (1, 10, 100.0), (1, 20, None),
                       (2, 2, 300.0), (2, 15, None), (3, 30, None)]

    def test_tolerance(self, frames):
        left, right = frames
        out = asof_join(left, right, on="k", value_cols=["rv"],
                        tolerance_s=3)
        got = _collect(out)
        # k=1 ts=20 matched 18 (gap 2s, kept); k=2 ts=15 matched 14 (kept);
        # k=1 ts=10 matched 10 (gap 0, kept) — others null
        assert got == [(1, 5, None), (1, 10, 100.0), (1, 20, 200.0),
                       (2, 2, None), (2, 15, 300.0), (3, 30, None)]
        out2 = asof_join(left, right, on="k", value_cols=["rv"],
                         tolerance_s=1)
        got2 = _collect(out2)
        assert got2 == [(1, 5, None), (1, 10, 100.0), (1, 20, None),
                        (2, 2, None), (2, 15, 300.0), (3, 30, None)]

    def test_single_shuffle_plan(self, frames):
        # the physical plan must be union -> ONE exchange on the key ->
        # window; no join operator, no broadcast nested loop
        left, right = frames
        out = asof_join(left, right, on="k", value_cols=["rv"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1


class TestIntervalJoin:
    def _mk(self, spark, points, intervals):
        p = spark.createDataFrame(
            [(i, k, _ts(t)) for i, (k, t) in enumerate(points)],
            "pid long, k long, ts timestamp")
        iv = spark.createDataFrame(
            [(100 + i, k, _ts(s), _ts(e))
             for i, (k, s, e) in enumerate(intervals)],
            "iid long, k long, s timestamp, e timestamp")
        return p, iv

    def test_half_open_boundaries(self, spark):
        from logparse_rs_spark.operators.asof import interval_join
        p, iv = self._mk(
            spark,
            points=[(1, "2021-01-01T00:10:00"),   # == start: IN
                    (1, "2021-01-01T00:20:00"),   # == end: OUT
                    (1, "2021-01-01T00:15:00"),   # inside: IN
                    (2, "2021-01-01T00:15:00")],  # wrong key: OUT
            intervals=[(1, "2021-01-01T00:10:00", "2021-01-01T00:20:00")])
        got = sorted(r.pid for r in interval_join(
            p, iv, on="k", start_ts="s", end_ts="e", bucket_s=60).collect())
        assert got == [0, 2]

    def test_interval_spanning_many_buckets(self, spark):
        from logparse_rs_spark.operators.asof import interval_join
        # 1-hour interval, 60 s buckets: explodes over 60 buckets, every
        # contained point pairs exactly once (no dup from multi-bucket)
        p, iv = self._mk(
            spark,
            points=[(1, f"2021-01-01T00:{m:02d}:30") for m in range(60)],
            intervals=[(1, "2021-01-01T00:00:00", "2021-01-01T01:00:00")])
        rows = interval_join(p, iv, on="k", start_ts="s", end_ts="e",
                             bucket_s=60).collect()
        assert len(rows) == 60
        assert len({r.pid for r in rows}) == 60

    def test_matches_naive_range_join(self, spark):
        from logparse_rs_spark.operators.asof import interval_join
        import random
        rng = random.Random(7)
        base = dt.datetime(2021, 1, 1)
        points = [(rng.randrange(4),
                   (base + dt.timedelta(seconds=rng.randrange(7200)))
                   .isoformat()) for _ in range(200)]
        intervals = []
        for _ in range(60):
            s = rng.randrange(7200)
            intervals.append((rng.randrange(4),
                              (base + dt.timedelta(seconds=s)).isoformat(),
                              (base + dt.timedelta(
                                  seconds=s + rng.randrange(1, 900)))
                              .isoformat()))
        p, iv = self._mk(spark, points, intervals)
        got = sorted((r.pid, r.iid_iv) for r in interval_join(
            p, iv, on="k", start_ts="s", end_ts="e",
            value_cols=["iid"], bucket_s=120).collect())
        want = sorted((r.pid, r.iid) for r in p.alias("p").join(
            iv.alias("i"),
            (F.col("p.k") == F.col("i.k"))
            & (F.col("p.ts") >= F.col("i.s"))
            & (F.col("p.ts") < F.col("i.e"))).collect())
        assert got == want and len(want) > 0

    def test_plan_is_equi_join(self, spark):
        from logparse_rs_spark.operators.asof import interval_join
        p, iv = self._mk(
            spark, points=[(1, "2021-01-01T00:10:00")],
            intervals=[(1, "2021-01-01T00:00:00", "2021-01-01T01:00:00")])
        plan = interval_join(p, iv, on="k", start_ts="s", end_ts="e",
                             bucket_s=60)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_empty_interval_matches_nothing(self, spark):
        from logparse_rs_spark.operators.asof import interval_join
        p, iv = self._mk(
            spark, points=[(1, "2021-01-01T00:10:00")],
            intervals=[(1, "2021-01-01T00:10:00", "2021-01-01T00:10:00")])
        assert interval_join(p, iv, on="k", start_ts="s", end_ts="e",
                             bucket_s=60).count() == 0
