"""Report aggregates (SURVEY §2.4, G1-G5) — the per-sink aggregate set whose
counts must equal the reference's routed-row counts exactly.

Reference computations are driver-side Counters over the parsed stream
(examples/pan_dynamic_parser.py:1040-1095); here they are hash aggregates
with Catalyst partial/final planning. Determinism gaps are pinned per
SURVEY §8.6: top-k ties break (count desc, value asc); "first sample" orders
by the input-derived (url, line_ordinal) identity.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .parse import STATUS_OK


def count_rows_and_errors(parsed: DataFrame) -> DataFrame:
    """G1: total lines vs error(=non-ok) lines, one row."""
    return parsed.agg(
        F.count("*").alias("total_logs"),
        F.sum(F.when(F.col("status") != STATUS_OK, 1).otherwise(0)).alias("errors"),
    )


def count_by_log_type(parsed: DataFrame) -> DataFrame:
    """G2: routed-row counts per log type, ordered (count desc, type asc)."""
    return (
        parsed.filter(F.col("status") == STATUS_OK)
        .groupBy("log_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("log_type"))
    )


def count_by(projected: DataFrame, dim: str) -> DataFrame:
    """G3: counts of a parsed dimension where present (e.g. action)."""
    return (
        projected.filter(F.col(dim).isNotNull())
        .groupBy(dim)
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc(dim))
    )


def top_k(projected: DataFrame, dim: str) -> DataFrame:
    """G4: top-10 values of a dimension with the pinned tie-break
    (count desc, value asc). Catalyst plans this as a partial agg +
    TakeOrderedAndProject — no full sort at scale."""
    return (
        projected.filter(F.col(dim).isNotNull())
        .groupBy(dim)
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc(dim))
        .limit(10)
    )


def first_sample_per_type(parsed: DataFrame) -> DataFrame:
    """G5: the first ok record of each log type, "first" = min (url,
    line_ordinal) — a deterministic total order derived from the input, not
    from partition scheduling. Implemented as min_by over a struct (single
    shuffle-free-able agg) rather than a window sort."""
    df = parsed.filter(F.col("status") == STATUS_OK)
    key = F.struct(F.col("url"), F.col("line_ordinal"))
    return (
        df.groupBy("log_type")
        .agg(
            F.min_by(F.col("url"), key).alias("url"),
            F.min_by(F.col("line_ordinal"), key).alias("line_ordinal"),
            F.min_by(F.col("line"), key).alias("line"),
            F.min_by(F.col("hash64"), key).alias("hash64"),
        )
        .orderBy("log_type")
    )


def report(parsed: DataFrame, traffic_projected: DataFrame) -> dict:
    """The reference's end-of-run JSON report shape
    (pan_dynamic_parser.py:1284-1310): totals, per-type counts, action
    counts, top-10 sources/destinations/applications. Small aggregates are
    collected to the driver like the reference's report sink (S5)."""
    totals = count_rows_and_errors(parsed).collect()[0]
    by_type = count_by_log_type(parsed).collect()
    actions = count_by(traffic_projected, "action").collect()
    tops = {
        dim: [(r[dim], r["n"])
              for r in top_k(traffic_projected, dim).collect()]
        for dim in ("source_address", "destination_address", "application")
    }
    return {
        "total_logs": totals["total_logs"],
        "errors": totals["errors"],
        "by_log_type": [(r["log_type"], r["n"]) for r in by_type],
        "by_action": [(r["action"], r["n"]) for r in actions],
        "top_sources": tops["source_address"],
        "top_destinations": tops["destination_address"],
        "top_applications": tops["application"],
    }


def spike_windows(df: DataFrame, window_s: int = 3600) -> DataFrame:
    """Volume-spike detection over fixed time windows, integer-exact: flag
    every (event_type, window) whose event count exceeds twice the type's
    mean count per ACTIVE window. The comparison is cross-multiplied
    (n * n_windows * den > num * total, factor num / den = 2 / 1), so
    no float mean ever exists and the answer is engine-exact — the mean
    baseline is over windows that contain at least one event (empty
    windows are never materialized; a sparse stream's baseline is its
    active-window rate by design).

    Scale shape: one hash agg to (key, window) — map-side partial, output
    already tiny relative to events — then a per-key rollup of THAT (rows
    = active windows, not events) broadcast back. The events table is
    touched once and shuffled only by the (key, window) agg key, which is
    spike-proof: a hot window still folds map-side before the exchange.
    Output is all-integer (window starts as epoch micros)."""
    num, den = 2, 1
    width = int(window_s) * 1_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    w = (df.withColumn("_wb", F.floor(us / F.lit(width)))
         .groupBy("event_type", "_wb").agg(F.count("*").alias("n")))
    t = w.groupBy("event_type").agg(F.count("*").alias("n_windows"),
                                    F.sum("n").alias("total_n"))
    return (w.join(F.broadcast(t), "event_type")
            .filter(F.col("n") * F.col("n_windows") * F.lit(den)
                    > F.lit(num) * F.col("total_n"))
            .select("event_type",
                    (F.col("_wb") * width).alias("window_start_us"),
                    "n", "n_windows", "total_n"))


def merge_aggregates(old: DataFrame, delta: DataFrame,
                     keys: Iterable[str],
                     sum_cols: Iterable[str]) -> DataFrame:
    """Incremental aggregate refresh: merge an existing aggregate table
    with a DELTA batch's aggregate of the same shape — the at-scale
    alternative to recomputing a rollup from the full history (at 10^12
    rows the history scan dwarfs any day's delta; production log
    pipelines maintain report tables by folding each batch in).

    Only works for DISTRIBUTIVE aggregates (sums, counts — anything
    where merge = add); averages/quantiles must be carried as their
    summable parts (sum + count) and derived at read time. Keys present
    on either side survive (full outer join, absent side contributes 0),
    so the merged frame equals the aggregate recomputed over
    history ∪ delta exactly — integer adds, engine-independent.

    Scale shape: one key-keyed shuffle of two ALREADY-AGGREGATED frames
    (report-table-sized, not event-sized); the raw delta is aggregated
    by the caller before it arrives, so event rows never join anything.
    """
    keys = list(keys)
    sum_cols = list(sum_cols)
    j = old.alias("o").join(delta.alias("d"), keys, "full_outer")
    merged = [
        (F.coalesce(F.col(f"o.{c}"), F.lit(0).cast("long"))
         + F.coalesce(F.col(f"d.{c}"), F.lit(0).cast("long"))).alias(c)
        for c in sum_cols
    ]
    return j.select(*[F.col(k) for k in keys], *merged)
