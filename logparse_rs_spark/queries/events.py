"""Event-stream queries over ``events.parquet``: windows, sessions,
joins, funnels, retention and the watermarked streaming operators driven
to batch equivalence, with their DuckDB oracles."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F

from logparse_rs_spark.dataops_fixtures import derived_dir
from logparse_rs_spark.operators.aggregates import (merge_aggregates,
                                                    spike_windows)
from logparse_rs_spark.operators.asof import asof_join, interval_join
from logparse_rs_spark.operators.behavior import (funnel, props_field_stats,
                                                  retention_cohorts,
                                                  sliding_window_activity,
                                                  top_n_per_group,
                                                  transition_counts,
                                                  user_event_paths,
                                                  versioned_intervals)
from logparse_rs_spark.streaming.stream import (streaming_interval_join,
                                                streaming_sessions)

from .common import (OracleTables, _par_parquet, fixture_root,
                     run_available_now)


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def events_top_users(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (ev.groupBy("user_id").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("user_id")).limit(10))


def events_5min_windows(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"),
                "event_type", "n", "sum_value")
    )


def events_spike_windows(spark, sf_dir):
    # integer-exact spike detection: 15-min windows whose count beats
    # 2x the type's mean active-window rate (cross-multiplied — no
    # float baseline, no timestamp output surface). 900 s keeps the
    # flag set non-trivial at BOTH gate SFs (472 @ sf0.01, 151 @ sf0.1)
    ev = _events(spark, sf_dir)
    return spike_windows(ev, window_s=900)


def events_attribution_join(spark, sf_dir):
    # point-in-interval attribution: every purchase paired with every
    # click by the same user in the preceding 12 h (half-open window).
    # The operator runs the bucketed equi-join form — never the
    # nested-loop range join Spark would plan for the raw predicate.
    # Integer-only output surface (ids + delta micros).
    ev = _events(spark, sf_dir)
    clicks = (ev.filter("event_type = 'click'")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      F.col("ts").alias("c_start"),
                      (F.col("ts") + F.expr("INTERVAL 12 HOURS"))
                      .alias("c_end"),
                      F.col("ts").alias("c_ts")))
    purchases = (ev.filter("event_type = 'purchase'")
                 .select("event_id", "user_id", "ts"))
    j = interval_join(purchases, clicks, on="user_id", start_ts="c_start",
                      end_ts="c_end",
                      value_cols=["click_id", "c_ts"], bucket_s=43200)
    return j.select(F.col("event_id").alias("purchase_id"),
                    F.col("click_id_iv").alias("click_id"),
                    "user_id",
                    (F.unix_micros(F.col("ts").cast("timestamp_ltz"))
                     - F.unix_micros(F.col("c_ts_iv")
                                     .cast("timestamp_ltz")))
                    .alias("delta_us"))


def events_value_quantiles(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (ev.groupBy("event_type")
            .agg(F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
                 F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
                 F.count("*").alias("n")))


def events_sessionization(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet gives TIMESTAMP_NTZ; go via timestamp_ltz (session tz UTC).
    # Gap math in integer MICROseconds (unix_micros vs DuckDB epoch_us)
    # so sub-second timestamps classify identically on both sides.
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap = us - F.lag(us).over(w)
    return (
        ev.withColumn("new_session",
                      (gap.isNull() | (gap > 1800 * 1_000_000)).cast("int"))
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("long").alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


def events_asof_join(spark, sf_dir):
    # point-in-time enrichment: every click gets the user's most recent
    # purchase value at-or-before the click. Single-shuffle union+window
    # plan (operators/asof.py) vs DuckDB's native ASOF JOIN oracle.
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts", "value")
    # deterministic right side: one row per (user, ts), highest event_id
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts")
                 .agg(F.max_by("value", "event_id").alias("purchase_value")))
    out = asof_join(clicks, purchases, on="user_id",
                    value_cols=["purchase_value"], suffix="_last")
    return out.select("event_id", "user_id", "ts", "value",
                      F.col("purchase_value_last").alias("purchase_value"),
                      F.col("ts_last").alias("purchase_ts"))


_EVENTS_STREAM_SCHEMA = ("event_id long, ts timestamp_ntz, "
                         "user_id long, event_type string, "
                         "value double, props string")


def _staged_events_dir(sf_dir) -> str:
    # the file-stream source lists a DIRECTORY; the events table is a
    # single parquet file — stage it (hardlink when possible) into a
    # fixture dir keyed on the source file, so a regenerated events table
    # is re-staged instead of validating the streaming queries against
    # stale bytes
    origin = f"{sf_dir}/events.parquet"
    src = derived_dir(fixture_root(), "eventstream", origin)
    dest = os.path.join(src, "events.parquet")
    if not os.path.exists(dest):
        os.makedirs(src, exist_ok=True)
        tmp = f"{dest}.tmp{os.getpid()}"
        try:
            os.link(origin, tmp)
        except OSError:
            shutil.copyfile(origin, tmp)
        os.replace(tmp, dest)
    return src


def _events_stream(spark, sf_dir):
    return (spark.readStream.schema(_EVENTS_STREAM_SCHEMA)
            .parquet(_staged_events_dir(sf_dir)))


def events_streaming_attribution(spark, sf_dir):
    # watermarked STREAM-STREAM interval join driven to batch
    # equivalence: purchases stream x clicks stream, same user, click
    # in the preceding 12 h (half-open) — the online form of
    # events_attribution_join, and the oracle is the SAME raw range
    # predicate in DuckDB, so the gate proves stream-stream == batch.
    clicks = (_events_stream(spark, sf_dir).filter("event_type = 'click'")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id"),
                      F.col("ts").alias("c_start"),
                      (F.col("ts") + F.expr("INTERVAL 12 HOURS"))
                      .alias("c_end"),
                      F.col("ts").alias("c_ts")))
    purchases = (_events_stream(spark, sf_dir)
                 .filter("event_type = 'purchase'")
                 .select("event_id", "user_id", "ts"))
    joined = streaming_interval_join(
        purchases, clicks, watermark="24 hours")
    out = run_available_now(spark, joined, "attribution_feed", "append")
    return out.select(
        F.col("event_id").alias("purchase_id"),
        F.col("click_id"), F.col("user_id"),
        (F.unix_micros(F.col("ts"))
         - F.unix_micros(F.col("c_ts").cast("timestamp_ltz")))
        .alias("delta_us"))


def events_streaming_sessions(spark, sf_dir):
    # NATIVE streaming sessionization (session_window + watermark,
    # streaming/stream.py) driven to batch equivalence over the events
    # table, then rolled up per user. Oracle = the same half-open gap
    # rule (a gap of EXACTLY 30 min starts a new session) as SQL.
    sessions = streaming_sessions(_events_stream(spark, sf_dir))
    out = run_available_now(spark, sessions, "sessions_feed", "complete")
    return (out.groupBy("user_id")
            .agg(F.count("*").alias("n_sessions"),
                 F.sum("n_events").cast("long").alias("n_events")))


def events_running_total(spark, sf_dir):
    # per-user running purchase total in exact integer cents (floats
    # would tie the answer to each engine's window-sum association
    # order); ordered window + unbounded-preceding frame. ts is emitted
    # as epoch MICROSECONDS (BIGINT) so no engine-side timestamp
    # rendering/normalization can differ between Spark and the oracle.
    # ts is TIMESTAMP_NTZ, so the conversion uses timestampdiff against an
    # NTZ epoch literal — independent of the session timezone (a cast
    # through TIMESTAMP_LTZ would shift under a non-UTC driver session).
    ev = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    ts_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    return (ev.filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", ts_us.alias("ts_us"),
                    F.sum(cents).over(w).alias("running_cents")))


def events_funnel(spark, sf_dir):
    # ordered conversion funnel signup -> click -> purchase: one
    # user-keyed shuffle, all stage predicates evaluated as running
    # window maxima over the same (ts, event_id) ordering. Integer
    # output surface (stage counts).
    ev = _events(spark, sf_dir)
    return funnel(ev, ["signup", "click", "purchase"])


def events_retention(spark, sf_dir):
    # daily cohort retention: cohort = epoch-day of a user's first
    # event, one row per (cohort, day offset) with returning-user
    # counts. distinct (user, day) first so the shuffle carries
    # active-user-days, not events; cohort derived as min(bucket) over
    # the same partitioning (no first-event join).
    ev = _events(spark, sf_dir)
    return retention_cohorts(ev)


def events_top3_per_type(spark, sf_dir):
    # exact top-3 by value per event type (row_number window + filter,
    # planned with WindowGroupLimit partial pushdown — pinned in
    # tests/test_behavior.py). value rounded on the output surface
    # only; event_id tie-break makes the row set deterministic.
    ev = _events(spark, sf_dir)
    out = top_n_per_group(ev, ["event_type"], "value", 3,
                          tiebreak_col="event_id")
    return out.select("event_type", "rank", "event_id",
                      F.round("value", 6).alias("value"))


def events_transitions(spark, sf_dir):
    # top-20 behavior-path transitions (consecutive event-type pairs
    # per user in (ts, event_id) order): one user-keyed shuffle, then
    # a |types|^2-keyed count that folds map-side.
    ev = _events(spark, sf_dir)
    return transition_counts(ev, k=20)


def events_props_stats(spark, sf_dir):
    # schema-on-read over the JSON props blob: JVM-side JSON-path
    # extraction in codegen, per-type numeric profile. The events
    # table is single-row-group parquet (one-task scan), and the
    # JSON parse is the per-row cost — restore scan parallelism
    # before it (guide §2.5 input skew; safe here: every aggregate
    # is integer/min/max/distinct, no float re-association)
    ev = _par_parquet(spark, f"{sf_dir}/events.parquet")
    return props_field_stats(ev)


def events_user_paths(spark, sf_dir):
    # per-user ordered event-type path (training-sequence assembly):
    # in-row array_sort over (ts, event_id, type) structs — total
    # order, no window, one user-keyed shuffle.
    ev = _events(spark, sf_dir)
    return user_event_paths(ev)


def events_sliding_active(spark, sf_dir):
    # hopping-window activity (30 min windows sliding 15): each event
    # lands in exactly two windows (replicated in-row, no join), then
    # one window-keyed distinct-user aggregate; starts emitted as
    # epoch micros.
    ev = _events(spark, sf_dir)
    return sliding_window_activity(ev)


def events_agg_refresh(spark, sf_dir):
    # incremental aggregate MAINTENANCE: fold a delta batch's
    # aggregate into the standing report table (full-outer key merge
    # of two report-sized frames) and prove it equals the aggregate
    # recomputed over history ∪ delta — the oracle computes the
    # latter directly. Integer cents, distributive sums only.
    ev = _events(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = ev.select("event_id", "event_type", cents.alias("cents"))

    def agg(df):
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_cents"))

    history = agg(base.filter(F.col("event_id") % 4 != 0))
    delta = agg(base.filter(F.col("event_id") % 4 == 0))
    return (merge_aggregates(history, delta, ["event_type"],
                             ["n_events", "sum_cents"])
            .orderBy("event_type"))


def events_dau_stickiness(spark, sf_dir):
    # the classic engagement rollup: daily active users against the
    # month's active users (DAU/MAU stickiness, exact integer ppm).
    # Day/month keys are NAIVE date strings off the NTZ timestamp —
    # no session-timezone surface — and the two distinct-count
    # aggregates join on the month key (month frame is tiny).
    ev = _events(spark, sf_dir)
    d = ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"),
                  F.date_format("ts", "yyyy-MM").alias("month"),
                  "user_id")
    dau = d.groupBy("day", "month").agg(
        F.countDistinct("user_id").alias("dau"))
    mau = d.groupBy("month").agg(
        F.countDistinct("user_id").alias("mau"))
    return (dau.join(mau, "month")
            .select("day", "dau", "mau",
                    F.expr("CAST(dau * 1000000 DIV mau AS BIGINT)")
                    .alias("stickiness_ppm"))
            .orderBy("day"))


def events_scd2_versions(spark, sf_dir):
    # SCD2 validity intervals over each user's signup stream: version
    # number, [valid_from, valid_to) in epoch micros, is_current flag.
    # One user-keyed shuffle; window ordering shared by all outputs.
    ev = (_events(spark, sf_dir)
          .filter(F.col("event_type") == "signup"))
    return versioned_intervals(ev)


def oracle_sql(t: OracleTables) -> dict[str, str]:
    d = {
        "events_top_users": """
            SELECT user_id, COUNT(*) AS n FROM events
            GROUP BY user_id ORDER BY n DESC, user_id ASC LIMIT 10
        """,
        "events_5min_windows": """
            SELECT make_timestamp(
                     (floor(epoch(ts) / 300) * 300 * 1000000)::BIGINT
                   ) AS window_start,
                   event_type, COUNT(*) AS n,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_sessionization": """
            SELECT user_id, SUM(new_session)::BIGINT AS n_sessions,
                   COUNT(*) AS n_events
            FROM (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               > 1800 * 1000000
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ) GROUP BY user_id
        """,
        # spike windows: integer cross-multiplied threshold, no float mean
        "events_spike_windows": """
            WITH w AS (SELECT event_type,
                              epoch_us(ts) // (900::BIGINT * 1000000) AS wb,
                              COUNT(*) AS n
                       FROM events GROUP BY 1, 2),
            t AS (SELECT event_type, COUNT(*) AS n_windows,
                         SUM(n)::BIGINT AS total_n
                  FROM w GROUP BY 1)
            SELECT event_type, wb * 900000000 AS window_start_us,
                   n, n_windows, total_n
            FROM w JOIN t USING (event_type)
            WHERE n * n_windows * 1 > 2 * total_n
        """,
        # attribution interval join: DuckDB gets the raw range predicate
        # (its optimizer handles it at oracle scale); Spark runs the
        # bucketed form — identical pair sets is exactly the claim under test
        "events_attribution_join": """
            WITH c AS (SELECT event_id AS click_id, user_id, ts AS cts
                       FROM events WHERE event_type = 'click'),
            p AS (SELECT event_id AS purchase_id, user_id, ts AS pts
                  FROM events WHERE event_type = 'purchase')
            SELECT p.purchase_id, c.click_id, p.user_id,
                   epoch_us(p.pts) - epoch_us(c.cts) AS delta_us
            FROM p JOIN c ON p.user_id = c.user_id
             AND c.cts <= p.pts AND p.pts < c.cts + INTERVAL 12 HOUR
        """,
        "events_value_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   COUNT(*) AS n
            FROM events GROUP BY event_type
        """,
        "events_asof_join": """
            WITH clicks AS (
              SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'click'),
            p AS (
              SELECT user_id, ts, max_by(value, event_id) AS purchase_value
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id, ts)
            SELECT c.event_id, c.user_id, c.ts, c.value,
                   p.purchase_value, p.ts AS purchase_ts
            FROM clicks c ASOF LEFT JOIN p
              ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
    }
    # streaming sessionization equivalence: session_window's half-open
    # boundary means a gap of EXACTLY the session gap starts a NEW session
    # (>= in the oracle, vs > in the batch lag-rule query above)
    d["events_streaming_sessions"] = """
        WITH o AS (
          SELECT user_id,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          FROM events),
        s AS (SELECT user_id,
                     CASE WHEN gap_us IS NULL OR gap_us >= 1800000000
                          THEN 1 ELSE 0 END AS new_s
              FROM o)
        SELECT user_id, SUM(new_s)::BIGINT AS n_sessions,
               COUNT(*) AS n_events
        FROM s GROUP BY user_id
    """
    d["events_running_total"] = """
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS running_cents
        FROM events WHERE event_type = 'purchase'
    """
    d["events_dau_stickiness"] = """
        WITH d AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
                          strftime(ts, '%Y-%m') AS month, user_id
                   FROM events),
        dau AS (SELECT day, month, COUNT(DISTINCT user_id)::BIGINT AS dau
                FROM d GROUP BY day, month),
        mau AS (SELECT month, COUNT(DISTINCT user_id)::BIGINT AS mau
                FROM d GROUP BY month)
        SELECT day, dau.dau, mau.mau,
               (dau.dau * 1000000 // mau.mau)::BIGINT AS stickiness_ppm
        FROM dau JOIN mau USING (month) ORDER BY day
    """
    # incremental-refresh correctness contract: the merged
    # history ∪ delta report must equal the aggregate recomputed over
    # ALL events — so the oracle IS the full recompute
    d["events_agg_refresh"] = """
        SELECT event_type, COUNT(*)::BIGINT AS n_events,
               SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT
                 AS sum_cents
        FROM events GROUP BY event_type ORDER BY event_type
    """
    # ordered funnel: each stage's reach is a running window max of the
    # previous stage over the SAME (ts, event_id) ordering as Spark; the
    # 1-PRECEDING frame makes "strictly earlier event" explicit
    d["events_funnel"] = """
        WITH q0 AS (SELECT user_id, event_type, ts, event_id,
                           CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END
                             AS s0
                    FROM events),
        p0 AS (SELECT *, coalesce(max(s0) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS a0
               FROM q0),
        q1 AS (SELECT *, CASE WHEN event_type = 'click' AND a0 = 1
                              THEN 1 ELSE 0 END AS s1
               FROM p0),
        p1 AS (SELECT *, coalesce(max(s1) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS a1
               FROM q1),
        q2 AS (SELECT *, CASE WHEN event_type = 'purchase' AND a1 = 1
                              THEN 1 ELSE 0 END AS s2
               FROM p1),
        u AS (SELECT user_id, max(s0) AS m0, max(s1) AS m1, max(s2) AS m2
              FROM q2 GROUP BY user_id)
        SELECT 0 AS stage_idx, 'signup' AS step, sum(m0)::BIGINT AS n_users
        FROM u
        UNION ALL
        SELECT 1, 'click', sum(m1)::BIGINT FROM u
        UNION ALL
        SELECT 2, 'purchase', sum(m2)::BIGINT FROM u
    """
    # daily retention cohorts: integer epoch-day buckets, cohort =
    # min(bucket) per user over the distinct active set
    d["events_retention"] = """
        WITH active AS (
          SELECT DISTINCT user_id,
                 epoch_us(ts) // 86400000000 AS bucket
          FROM events),
        c AS (SELECT user_id, bucket,
                     min(bucket) OVER (PARTITION BY user_id) AS cohort
              FROM active)
        SELECT cohort AS cohort_bucket,
               bucket - cohort AS bucket_offset,
               COUNT(*) AS n_users
        FROM c GROUP BY 1, 2
    """
    d["events_top3_per_type"] = """
        SELECT event_type, rank, event_id, round(value, 6) AS value
        FROM (SELECT event_type, event_id, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY value DESC, event_id)
                       AS rank
              FROM events)
        WHERE rank <= 3
    """
    # the stream-stream interval join must reproduce the BATCH answer —
    # the oracle is byte-identical to the batch attribution oracle
    d["events_streaming_attribution"] = d["events_attribution_join"]
    d["events_transitions"] = """
        WITH p AS (
          SELECT lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS src,
                 event_type AS dst
          FROM events)
        SELECT src, dst, COUNT(*) AS n FROM p WHERE src IS NOT NULL
        GROUP BY src, dst ORDER BY n DESC, src ASC, dst ASC LIMIT 20
    """
    d["events_props_stats"] = """
        SELECT event_type, COUNT(*)::BIGINT AS n,
               COUNT(v)::BIGINT AS n_with_field,
               SUM(v)::BIGINT AS sum_v, MIN(v) AS min_v, MAX(v) AS max_v,
               COUNT(DISTINCT v)::BIGINT AS distinct_v
        FROM (SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS v
              FROM events)
        GROUP BY event_type ORDER BY event_type
    """
    d["events_user_paths"] = """
        SELECT user_id, COUNT(*)::BIGINT AS n_events,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM events GROUP BY user_id
    """
    d["events_sliding_active"] = """
        SELECT s AS window_start_us,
               COUNT(DISTINCT user_id)::BIGINT AS active_users,
               COUNT(*)::BIGINT AS n_events
        FROM (SELECT user_id,
                     (epoch_us(ts) // 900000000 - i) * 900000000 AS s
              FROM events, unnest(range(0, 2)) AS r(i))
        GROUP BY s ORDER BY s
    """
    d["events_scd2_versions"] = """
        SELECT user_id, event_id,
               (ROW_NUMBER() OVER w)::INT AS version,
               epoch_us(ts) AS valid_from_us,
               LEAD(epoch_us(ts)) OVER w AS valid_to_us,
               (LEAD(epoch_us(ts)) OVER w IS NULL) AS is_current
        FROM events WHERE event_type = 'signup'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """
    return d
