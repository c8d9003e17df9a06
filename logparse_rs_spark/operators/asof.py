"""As-of (point-in-time) and point-in-interval joins — the classic custom
temporal operators Spark's DataFrame API lacks as primitives.

For every left row, attach the value columns of the single right row with
the greatest right timestamp <= the left timestamp ("backward", the
default; "forward" takes the smallest right ts >= left ts), matching on an
equality key. Semantics match DuckDB/pandas ``ASOF JOIN`` (ties at equal
timestamps DO match), which is what the oracle checks against.

Spark-first physical form: no join at all. The two sides are UNIONED and
resolved with ONE window pass —

    union(left tagged 1, right tagged 0)
      -> window partitionBy(key) orderBy(ts, tag)
      -> last(value, ignorenulls=True) over rows unbounded-preceding..current
      -> keep the left rows

so the whole operator is a single hash shuffle on the key plus an
in-partition sort: the same cost as one sort-merge join, with NO risk of
the range-condition row explosion a naive ``left.ts >= right.ts`` theta
join produces (Spark would plan that as a broadcast nested-loop). At
10^12 rows this is one shuffle of (key, ts, values) — and because a
skewed key's rows still sort within one partition, pair a hot key with a
coarse time-bucket salt upstream if a single entity exceeds a partition
(same playbook as operators/skew.py).

Right-side determinism: if several right rows share (key, ts), the caller
should pre-aggregate (e.g. max_by on a unique id) — the operator otherwise
resolves the tie by right-row input order, which is not stable across
partitionings. ``asof_join`` asserts nothing about it.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, on: str,
              value_cols: Optional[Sequence[str]] = None,
              direction: str = "backward",
              tolerance_s: Optional[float] = None,
              suffix: str = "_asof") -> DataFrame:
    """Backward/forward as-of join of `right` onto `left` by key `on`,
    both sides timed by their `ts` column.

    Returns every left row + for each v in value_cols a `v{suffix}` column
    (null when no right row qualifies) + `ts{suffix}` with the
    matched right timestamp. `tolerance_s` drops matches further than that
    many seconds from the left timestamp (nulls them, like pandas
    merge_asof's tolerance).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (on, "ts")]

    ts = "_asof_ts"
    tag = "_asof_is_left"
    row = "_asof_row"
    matched_ts = f"ts{suffix}"

    # ONE struct per right row carries (matched_ts, *values) together: a
    # single last(ignorenulls) then resolves the whole matching ROW, so a
    # NULL value inside the best row stays NULL (per-column carries would
    # backfill it from an older row) and no output can mix fields of two
    # different right rows.
    rhs = right.select(
        F.col(on),
        F.lit(0).alias(tag),
        F.col("ts").alias(ts),
        F.struct(F.col("ts").alias(matched_ts),
                 *[F.col(v).alias(f"{v}{suffix}") for v in value_cols])
        .alias(row),
    )
    lhs = left.withColumn(tag, F.lit(1)) \
        .withColumn(ts, F.col("ts")) \
        .withColumn(row, F.lit(None).cast(rhs.schema[row].dataType))
    unioned = lhs.unionByName(rhs, allowMissingColumns=True)

    # backward: right rows must sort BEFORE left rows at equal ts so a tie
    # matches (ASOF semantics are inclusive); forward is the mirror image.
    if direction == "backward":
        order = [F.col(ts).asc(), F.col(tag).asc()]
    else:
        order = [F.col(ts).desc(), F.col(tag).asc()]
    w = (Window.partitionBy(on).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    out = (unioned
           .withColumn(row, F.last(row, ignorenulls=True).over(w))
           .filter(F.col(tag) == 1))

    if tolerance_s is not None:
        gap = F.abs(
            F.unix_micros(F.col("ts").cast("timestamp_ltz"))
            - F.unix_micros(F.col(row)[matched_ts].cast("timestamp_ltz")))
        out = out.withColumn(
            row, F.when(gap <= int(tolerance_s * 1_000_000), F.col(row)))

    carried = [matched_ts] + [f"{v}{suffix}" for v in value_cols]
    for c in carried:
        out = out.withColumn(c, F.col(row)[c])
    return out.drop(tag, ts, row)


def interval_join(points: DataFrame, intervals: DataFrame, on: str,
                  start_ts: str = "start_ts",
                  end_ts: str = "end_ts",
                  value_cols: Optional[Sequence[str]] = None,
                  bucket_s: int = 3600) -> DataFrame:
    """Point-in-interval (range) join: one output row per (point, interval)
    pair with the same key where ``start_ts <= ts < end_ts`` (half-open,
    the standard attribution-window convention — an instant on the
    boundary belongs to exactly one adjacent window); each interval value
    column ``v`` comes out as ``v_iv``.

    Spark-first physical form: Spark plans a naive
    ``p.ts >= i.start AND p.ts < i.end`` theta join as a broadcast
    nested loop (or an SMJ on the key alone that replays every interval of
    a hot key against every point) — the classic range-join scale killer.
    Instead both sides are mapped onto fixed time buckets of ``bucket_s``
    seconds: an interval is exploded over every bucket it overlaps
    (``sequence(floor(start), floor(end - 1us))`` — ceil(len/bucket)+1
    rows), a point lands in exactly ONE bucket, and the join becomes a
    plain hash equi-join on (key, bucket) + an exact residual predicate.
    Each qualifying pair meets in exactly one bucket (the point's), so no
    dedup pass is needed. Cost is tunable: pick bucket_s near the typical
    interval length so intervals explode ~2x while each point probes one
    bucket. Skewed keys shard across buckets by construction (the join key
    is (key, bucket), not key alone).
    """
    if value_cols is None:
        value_cols = [c for c in intervals.columns
                      if c not in (on, start_ts, end_ts)]
    width = int(bucket_s) * 1_000_000

    s_us = F.unix_micros(F.col(start_ts).cast("timestamp_ltz"))
    e_us = F.unix_micros(F.col(end_ts).cast("timestamp_ltz"))
    rhs = (intervals.select(
        F.col(on),
        s_us.alias("_iv_s"), e_us.alias("_iv_e"),
        *[F.col(v).alias(f"{v}_iv") for v in value_cols])
        .filter(F.col("_iv_e") > F.col("_iv_s"))     # empty intervals: no bucket
        .withColumn("_iv_bucket", F.explode(F.sequence(
            F.floor(F.col("_iv_s") / width),
            F.floor((F.col("_iv_e") - 1) / width)))))

    p_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    lhs = (points.withColumn("_iv_t", p_us)
           .withColumn("_iv_bucket", F.floor(F.col("_iv_t") / width)))

    out = (lhs.join(rhs, [on, "_iv_bucket"])
           .filter((F.col("_iv_t") >= F.col("_iv_s"))
                   & (F.col("_iv_t") < F.col("_iv_e"))))
    return out.drop("_iv_bucket", "_iv_t", "_iv_s", "_iv_e")
