"""Behavior-analytics operators: funnel ordering semantics, retention
bucket math, top-N group-limit pushdown."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from logparse_rs_spark.operators.behavior import (funnel, retention_cohorts,
                                                  top_n_per_group)


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, event_type string, ts timestamp, "
              "event_id bigint")


T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _t(seconds):
    return T0 + dt.timedelta(seconds=seconds)


class TestFunnel:
    def test_order_matters(self, spark):
        rows = [
            # u1: full ordered funnel
            (1, "signup", _t(0), 1), (1, "click", _t(10), 2),
            (1, "purchase", _t(20), 3),
            # u2: purchase BEFORE click -> reaches click, not purchase
            (2, "signup", _t(0), 4), (2, "purchase", _t(5), 5),
            (2, "click", _t(10), 6),
            # u3: click without signup -> reaches nothing
            (3, "click", _t(0), 7), (3, "purchase", _t(5), 8),
        ]
        out = {r["step"]: r["n_users"]
               for r in funnel(_ev(spark, rows),
                               ["signup", "click", "purchase"]).collect()}
        assert out == {"signup": 2, "click": 2, "purchase": 1}

    def test_same_timestamp_uses_tiebreak_order(self, spark):
        # click shares the signup's timestamp; event_id orders it later,
        # so it counts (strictly-later POSITION, not strictly-later time)
        rows = [(1, "signup", _t(0), 1), (1, "click", _t(0), 2)]
        out = {r["step"]: r["n_users"]
               for r in funnel(_ev(spark, rows),
                               ["signup", "click"]).collect()}
        assert out == {"signup": 1, "click": 1}
        # reversed ids -> the click precedes the signup and must not count
        rows = [(1, "signup", _t(0), 2), (1, "click", _t(0), 1)]
        out = {r["step"]: r["n_users"]
               for r in funnel(_ev(spark, rows),
                               ["signup", "click"]).collect()}
        assert out == {"signup": 1, "click": 0}

    def test_repeated_step_needs_two_rows(self, spark):
        rows = [(1, "click", _t(0), 1),
                (2, "click", _t(0), 2), (2, "click", _t(1), 3)]
        out = {r["stage_idx"]: r["n_users"]
               for r in funnel(_ev(spark, rows),
                               ["click", "click"]).collect()}
        assert out == {0: 2, 1: 1}

    def test_single_shuffle_plan(self, spark):
        # every stage is a window over the same (user, ts, id) ordering:
        # exactly one Exchange below the final single-row aggregate
        df = funnel(_ev(spark, [(1, "signup", _t(0), 1)]),
                    ["signup", "click", "purchase"])
        plan = df._jdf.queryExecution().executedPlan().toString()
        # one user-keyed shuffle + the single-row global sum; the dependent
        # stage windows share ONE Sort (identical partitioning + ordering)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("Exchange SinglePartition") == 1, plan
        assert plan.count("+- Sort") == 1, plan


class TestRetention:
    def test_bucket_and_cohort_math(self, spark):
        rows = [
            (1, "view", _t(0), 1),                    # day 0 (cohort)
            (1, "view", _t(86400 * 2 + 5), 2),        # day 2 -> offset 2
            (1, "view", _t(86400 * 2 + 60), 3),       # same day, deduped
            (2, "view", _t(86400), 4),                # cohort day 1
            (2, "view", _t(86400 * 3), 5),            # offset 2
        ]
        out = {(r["cohort_bucket"], r["bucket_offset"]): r["n_users"]
               for r in retention_cohorts(_ev(spark, rows)).collect()}
        d0 = (T0 - dt.datetime(1970, 1, 1)).days
        assert out == {(d0, 0): 1, (d0, 2): 1,
                       (d0 + 1, 0): 1, (d0 + 1, 2): 1}

    def test_offset_zero_counts_whole_cohort(self, spark):
        rows = [(u, "view", _t(u), u) for u in range(1, 6)]
        out = retention_cohorts(_ev(spark, rows)).collect()
        assert len(out) == 1 and out[0]["bucket_offset"] == 0
        assert out[0]["n_users"] == 5


class TestTopNPerGroup:
    def test_values_and_ties(self, spark):
        df = spark.createDataFrame(
            [("a", 5.0, 1), ("a", 5.0, 2), ("a", 3.0, 3), ("a", 9.0, 4),
             ("b", 1.0, 5)],
            "g string, v double, id bigint")
        out = top_n_per_group(df, ["g"], "v", 2, tiebreak_col="id")
        got = sorted((r["g"], r["rank"], r["id"]) for r in out.collect())
        assert got == [("a", 1, 4), ("a", 2, 1), ("b", 1, 5)]

    def test_window_group_limit_pushdown(self, spark):
        df = spark.createDataFrame(
            [("a", float(i), i) for i in range(100)],
            "g string, v double, id bigint")
        out = top_n_per_group(df, ["g"], "v", 3, tiebreak_col="id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        # Partial mode limit below the shuffle: the map side forwards at
        # most N rows per group instead of the whole table
        assert "WindowGroupLimit" in plan, plan
        assert "Partial" in plan.split("Exchange")[-1], plan


class TestTransitionCounts:
    def test_pairs_and_user_isolation(self, spark):
        from logparse_rs_spark.operators.behavior import transition_counts
        # user 1: a -> b -> a ; user 2: b -> b. No cross-user pair:
        # (a @u1 last) -> (b @u2 first) must NOT appear.
        ev = _ev(spark, [
            (1, "a", _t(0), 1), (1, "b", _t(1), 2), (1, "a", _t(2), 3),
            (2, "b", _t(0), 4), (2, "b", _t(5), 5),
        ])
        got = {(r["src"], r["dst"]): r["n"]
               for r in transition_counts(ev, k=10).collect()}
        assert got == {("a", "b"): 1, ("b", "a"): 1, ("b", "b"): 1}

    def test_tiebreak_orders_same_timestamp(self, spark):
        from logparse_rs_spark.operators.behavior import transition_counts
        # identical ts: event_id decides the sequence a(1) -> b(2)
        ev = _ev(spark, [(1, "b", _t(0), 2), (1, "a", _t(0), 1)])
        got = [(r["src"], r["dst"])
               for r in transition_counts(ev, k=10).collect()]
        assert got == [("a", "b")]

    def test_single_shuffle_plan(self, spark):
        from logparse_rs_spark.operators.behavior import transition_counts
        ev = _ev(spark, [(1, "a", _t(0), 1), (1, "b", _t(1), 2)])
        plan = (transition_counts(ev, k=5)
                ._jdf.queryExecution().executedPlan().toString())
        # one Exchange for the user window; the pair-count agg reuses or
        # follows with a tiny |types|^2-keyed exchange at most
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges <= 2, plan


class TestVersionedIntervals:
    def test_versions_and_validity_chain(self, spark):
        from logparse_rs_spark.operators.behavior import versioned_intervals
        ev = _ev(spark, [
            (1, "signup", _t(0), 1), (1, "signup", _t(10), 2),
            (1, "signup", _t(20), 3), (2, "signup", _t(5), 4),
        ])
        rows = {r["event_id"]: r for r in
                versioned_intervals(ev).collect()}
        assert [rows[i]["version"] for i in (1, 2, 3)] == [1, 2, 3]
        # each version's valid_to == the next version's valid_from
        assert rows[1]["valid_to_us"] == rows[2]["valid_from_us"]
        assert rows[2]["valid_to_us"] == rows[3]["valid_from_us"]
        assert rows[3]["valid_to_us"] is None and rows[3]["is_current"]
        assert not rows[1]["is_current"]
        # user 2's single version is current with version 1
        assert rows[4]["version"] == 1 and rows[4]["is_current"]

    def test_single_window_single_exchange(self, spark):
        from logparse_rs_spark.operators.behavior import versioned_intervals
        ev = _ev(spark, [(1, "signup", _t(0), 1), (1, "signup", _t(9), 2)])
        plan = (versioned_intervals(ev)
                ._jdf.queryExecution().executedPlan().toString())
        # version/lead/is_current share one Window + one Exchange
        assert plan.count("Window") == 1, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan


class TestPropsFieldStats:
    def test_profile_and_missing_field(self, spark):
        from logparse_rs_spark.operators.behavior import props_field_stats
        df = spark.createDataFrame([
            (1, "a", '{"k": 5}'), (2, "a", '{"k": 7}'),
            (3, "a", '{"other": 1}'), (4, "b", '{"k": 5}'),
        ], "event_id long, event_type string, props string")
        got = {r["event_type"]: r for r in props_field_stats(df).collect()}
        a = got["a"]
        assert (a["n"], a["n_with_field"], a["sum_v"], a["min_v"],
                a["max_v"], a["distinct_v"]) == (3, 2, 12, 5, 7, 2)
        assert got["b"]["n_with_field"] == 1


class TestUserEventPaths:
    def test_path_order_and_tiebreak(self, spark):
        from logparse_rs_spark.operators.behavior import user_event_paths
        # same-ts events ordered by event_id; users isolated
        ev = _ev(spark, [
            (1, "view", _t(0), 2), (1, "click", _t(0), 1),
            (1, "purchase", _t(5), 3), (2, "signup", _t(1), 4),
        ])
        got = {r["user_id"]: (r["n_events"], r["path"])
               for r in user_event_paths(ev).collect()}
        assert got == {1: (3, "click>view>purchase"), 2: (1, "signup")}


class TestSlidingWindowActivity:
    def test_each_event_in_two_windows(self, spark):
        from logparse_rs_spark.operators.behavior import (
            sliding_window_activity)
        # one event at :20 past the hour -> windows starting at :00
        # and :15 (30-min window, 15-min slide)
        ev = _ev(spark, [(1, "click", _t(20), 1)])
        rows = sliding_window_activity(ev).collect()
        assert len(rows) == 2
        starts = sorted(r["window_start_us"] for r in rows)
        assert starts[1] - starts[0] == 15 * 60 * 1_000_000
        assert all(r["active_users"] == 1 and r["n_events"] == 1
                   for r in rows)

    def test_distinct_users_per_window(self, spark):
        from logparse_rs_spark.operators.behavior import (
            sliding_window_activity)
        # two users, one emits twice inside the same windows
        ev = _ev(spark, [(1, "a", _t(2), 1), (1, "a", _t(3), 2),
                         (2, "b", _t(4), 3)])
        rows = sliding_window_activity(ev).collect()
        for r in rows:
            assert r["active_users"] == 2 and r["n_events"] == 3
