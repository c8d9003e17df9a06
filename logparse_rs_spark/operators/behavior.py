"""Event-sequence behavior analytics: ordered funnels, retention cohorts,
per-group top-N.

These are the classic product-analytics operators a log pipeline grows once
the parse/aggregate layer works (the reference stops at flat counts —
pan_dynamic_parser.py:1087 — so this family is Spark-native ground).

Scale notes (100 TB / 1e9 users):
- ``funnel`` is ONE shuffle on the user key: every stage predicate is a
  running window aggregate over the same (user, time) ordering, so Catalyst
  plans a single Exchange + one Window operator evaluating all stages, then
  a partial-aggregated global sum. No joins, no per-stage passes.
- ``retention_cohorts`` reduces events to distinct (user, bucket) FIRST
  (map-side partial agg shrinks the shuffle to active-user-days), then
  derives each user's cohort as ``min(bucket)`` over the same partitioning —
  the Exchange inserted for the distinct is reused by the window and the
  final count, so the whole query is one user-keyed shuffle plus a small
  (cohort, offset) rollup.
- ``top_n_per_group`` relies on Spark's WindowGroupLimit pushdown: the
  per-partition Partial limit keeps only N rows per group before the
  shuffle, so a 10^12-row table with 10^3 groups moves ~N*groups rows,
  not the table. (Pinned in tests/test_behavior.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel(events: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered conversion funnel: one row per stage with the number of
    users who reached it IN ORDER.

    A user reaches stage 0 by emitting ``steps[0]`` at least once; stage i
    by emitting ``steps[i]`` at a strictly later event position (ordered by
    ``(ts, tiebreak)``) than some event that already reached stage i-1.
    Repeated step names (e.g. click -> click) are well-defined: the second
    occurrence must be a strictly later row.

    Returns (stage_idx INT, step STRING, n_users BIGINT).
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    w_prev = (Window.partitionBy("user_id").orderBy("ts", "event_id")
              .rowsBetween(Window.unboundedPreceding, -1))
    df = events
    qual_cols = []
    for i, step in enumerate(steps):
        q = f"_q{i}"
        hit = F.col("event_type") == F.lit(step)
        if i == 0:
            df = df.withColumn(q, hit.cast("int"))
        else:
            reached_prev = F.coalesce(
                F.max(F.col(f"_q{i-1}")).over(w_prev), F.lit(0))
            df = df.withColumn(q, (hit & (reached_prev == 1)).cast("int"))
        qual_cols.append(q)
    per_user = df.groupBy("user_id").agg(
        *[F.max(q).alias(q) for q in qual_cols])
    totals = per_user.agg(
        *[F.sum(q).cast("long").alias(q) for q in qual_cols])
    stack = ", ".join(
        f"{i}, '{s}', _q{i}" for i, s in enumerate(steps))
    return totals.select(F.expr(
        f"stack({len(steps)}, {stack}) AS (stage_idx, step, n_users)"))


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention matrix: users grouped by the one-day time bucket
    of their FIRST event; for every later bucket they were active in, how many of
    the cohort came back.

    Buckets are integer floor-divisions of the epoch-microsecond timestamp
    (timezone-independent); the cohort is simply ``min(bucket)`` per user,
    so no separate first-event join is needed — one distinct, one window
    over the same user partitioning, one small rollup.

    Returns (cohort_bucket BIGINT, bucket_offset BIGINT, n_users BIGINT).
    """
    bucket_us = 86400 * 1_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    active = (events
              .select(F.col("user_id").alias("_u"),
                      (us - F.pmod(us, F.lit(bucket_us)))
                      .alias("_bucket_us"))
              .distinct())
    w = Window.partitionBy("_u")
    return (active
            .withColumn("_cohort_us", F.min("_bucket_us").over(w))
            .groupBy(F.expr(f"_cohort_us div {bucket_us}")
                     .alias("cohort_bucket"),
                     F.expr(f"(_bucket_us - _cohort_us) div {bucket_us}")
                     .alias("bucket_offset"))
            .agg(F.count("*").alias("n_users")))


def top_n_per_group(df: DataFrame, group_cols: list[str], order_col: str,
                    n: int, tiebreak_col: str | None = None) -> DataFrame:
    """Exact top-N rows per group with a deterministic tie-break.

    Expressed as row_number over a per-group window + ``<= n`` filter so
    Spark's WindowGroupLimit rule pushes a Partial limit below the
    Exchange: each map task forwards at most N rows per group it sees.
    """
    order = [F.desc(order_col)]
    if tiebreak_col is not None:
        order.append(F.asc(tiebreak_col))
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= n))


def transition_counts(events: DataFrame, k: int = 20) -> DataFrame:
    """Top-k behavior-path transitions: for each user's event stream in
    ``(ts, tiebreak)`` order, count consecutive ``src -> dst`` event-type
    pairs across the whole corpus (the Markov-transition / clickstream-path
    table product analytics builds on top of sessionization).

    Scale shape: ONE shuffle on the user key (the lag window), then a
    type-pair aggregate whose key space is |event_types|^2 — bounded and
    tiny — so map-side partials collapse the per-user pair stream before
    the second (near-free) shuffle. Order is fully pinned: n desc, src,
    dst.

    Returns (src STRING, dst STRING, n BIGINT), k rows.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (events
             .select(F.lag("event_type").over(w).alias("src"),
                     F.col("event_type").alias("dst"))
             .filter(F.col("src").isNotNull()))
    return (pairs.groupBy("src", "dst").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("src"), F.asc("dst"))
            .limit(k))


def versioned_intervals(events: DataFrame) -> DataFrame:
    """SCD2-style validity intervals: treat each user's event stream as a
    sequence of record VERSIONS and emit, per version, its validity window
    ``[valid_from, valid_to)`` plus a version number and an is_current
    flag — the slowly-changing-dimension snapshot build every warehouse
    runs when folding a change log into a queryable history table.

    Timestamps are emitted as epoch MICROSECONDS (BIGINT) computed against
    an NTZ epoch literal, so no engine- or session-timezone rendering can
    differ between Spark and an oracle (same timezone-proofing as
    events_running_total). valid_to is NULL for the current version.

    Scale shape: ONE shuffle on the key columns; version number, the lead
    lookup, and the is_current flag all share the same Window ordering, so
    Catalyst plans a single Exchange + Sort + one Window operator. At
    10^12 change rows this is the minimum possible movement — every
    per-key computation needs the key's rows co-located once.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        "ts)")
    return events.select(
        "user_id",
        F.col("event_id"),
        F.row_number().over(w).alias("version"),
        ts_us.alias("valid_from_us"),
        F.lead(ts_us).over(w).alias("valid_to_us"),
        F.lead(ts_us).over(w).isNull().alias("is_current"))


def props_field_stats(events: DataFrame) -> DataFrame:
    """Semi-structured payload extraction + profile: pull the numeric
    ``k`` field out of the JSON ``props`` column and aggregate it per event
    type — the schema-on-read pass every log pipeline runs over its
    attribute blob (get_json_object is JVM-side JSON-path evaluation
    inside whole-stage codegen; no UDF, no shuffle of the raw JSON).

    Scale shape: the JSON parse happens scan-side; only (type, value)
    pairs reach the |types|-keyed aggregate, which folds map-side.

    Returns (event_type, n, n_with_field, sum_v, min_v, max_v,
    distinct_v) ordered by type.
    """
    v = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (events.select(F.col("event_type"), v.alias("v"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.count("v").alias("n_with_field"),
                 F.sum("v").alias("sum_v"),
                 F.min("v").alias("min_v"),
                 F.max("v").alias("max_v"),
                 F.countDistinct("v").alias("distinct_v"))
            .orderBy("event_type"))


def user_event_paths(events: DataFrame) -> DataFrame:
    """Training-sequence assembly: each user's full event-type history as
    one ordered path string — the per-entity timeline export a behavioral
    training pipeline materializes (one row per user, ready for
    tokenization), and the input shape for sequence-model pretraining
    over event streams.

    Determinism: events are packed as (ts, tiebreak, type) structs,
    sorted IN THE ROW with array_sort (struct comparison is field-major,
    and tiebreak is unique, so the order is total), then projected to the
    type path — no window, and the collect_list non-determinism never
    reaches the output surface.

    Scale shape: ONE user-keyed shuffle (the collect_list aggregate,
    map-side partially combined); per-user state is that user's own
    events. A production run bounds the per-entity history (cap rows per
    user upstream) the same way any per-entity training-data export does.

    Returns (user_id, n_events BIGINT, path STRING).
    """
    packed = F.struct(F.col("ts"), F.col("event_id"),
                      F.col("event_type").alias("etype"))
    return (events.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.array_sort(F.collect_list(packed)).alias("seq"))
            .select("user_id", "n_events",
                    F.array_join(
                        F.transform("seq", lambda x: x["etype"]),
                        ">").alias("path")))


def sliding_window_activity(events: DataFrame) -> DataFrame:
    """SLIDING (hopping) window activity: distinct active users + event
    volume per overlapping 30-minute window sliding by 15 minutes — the dashboard/alerting aggregate
    (tumbling windows under-read spikes that straddle a boundary; ops
    dashboards hop). Window start is emitted as epoch MICROSECONDS
    (BIGINT) against an NTZ epoch literal — engine/timezone-proof.

    Scale shape: ``F.window(ts, window, slide)`` replicates each row into
    window/slide assignments IN THE ROW (here 2x — bounded, no join), then
    one window-keyed aggregate; countDistinct rewrites to a two-level agg
    with map-side partials on (window, user).
    """
    w = F.window(F.col("ts"), "30 minutes", "15 minutes")
    return (events.groupBy(w.alias("w"))
            .agg(F.countDistinct("user_id").alias("active_users"),
                 F.count("*").alias("n_events"))
            .select(F.expr("timestampdiff(MICROSECOND, "
                           "TIMESTAMP_NTZ '1970-01-01 00:00:00', w.start)")
                    .alias("window_start_us"),
                    "active_users", "n_events")
            .orderBy("window_start_us"))
