"""Explicit skew handling (SURVEY §2.7 M5).

The pipeline's bucket key is pmod(xxhash64(url), B) — hot DOMAINS scatter
across buckets by construction, so the main path needs no salting. These
helpers cover the cases where the grouping/join key itself is skewed (e.g.
aggregating BY domain when two domains own 40% of rows):

- salted_agg: two-phase aggregation — partial agg on (key, salt), final agg
  on key. The hot key's rows split across `salt_factor` reducers in phase 1;
  phase 2 combines `salt_factor` partial rows per key (trivial).
- salt_column / desalt: building blocks for salted repartition before custom
  per-partition work.
- hot_keys: find keys above a frequency threshold (to salt selectively —
  AQE's skew-join handles joins, but map-side UDF stages distribute by
  partitioning alone).
"""

from __future__ import annotations

from typing import Dict, List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_column(df: DataFrame, salt_factor: int) -> DataFrame:
    """Per-row salt in [0, salt_factor) that spreads even FULLY DUPLICATE
    rows (the classic hot key in log data is a million identical rows —
    hashing column values would give them all one salt and salt nothing).
    The salt hashes ONLY the physical row position (partition id +
    partition-local ordinal from monotonically_increasing_id): position
    varies within a hot cluster regardless of values, and hashing the full
    row (the r2 form) paid an every-column hash — including fat text
    columns — for no extra spread. Salting is a performance hint — results
    never depend on WHICH salt a row gets, so the physical-position
    dependence is safe."""
    pos = F.monotonically_increasing_id()   # partition id << 33 | ordinal
    return df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(pos), F.lit(salt_factor)).cast("int"),
    )


def salted_agg(df: DataFrame, keys: Sequence[str], aggs: Dict[str, str],
               salt_factor: int = 16) -> DataFrame:
    """Two-phase skew-safe aggregation.

    aggs: {output_col: "sum(col)" | "count(*)" | "max(col)" | "min(col)"} —
    the re-aggregatable subset (avg = sum/count composed by the caller).
    Phase 1 shuffles on (keys..., salt): the hottest key occupies at most
    1/salt_factor of any reducer. Phase 2 shuffles salt_factor rows per key.
    """
    phase1_exprs: List[Column] = []
    phase2_exprs: List[Column] = []
    for out, spec in aggs.items():
        fn, _, arg = spec.partition("(")
        arg = arg.rstrip(")")
        fn = fn.strip().lower()
        if fn == "count":
            # count(col) counts non-nulls; count(*) counts rows — keep the
            # distinction through the two-phase rewrite
            phase1_exprs.append(
                (F.count("*") if arg.strip() == "*" else F.count(arg))
                .alias(out))
            phase2_exprs.append(F.sum(out).alias(out))
        elif fn == "sum":
            phase1_exprs.append(F.sum(arg).alias(out))
            phase2_exprs.append(F.sum(out).alias(out))
        elif fn == "max":
            phase1_exprs.append(F.max(arg).alias(out))
            phase2_exprs.append(F.max(out).alias(out))
        elif fn == "min":
            phase1_exprs.append(F.min(arg).alias(out))
            phase2_exprs.append(F.min(out).alias(out))
        else:
            raise ValueError(f"non-re-aggregatable function: {spec}")
    salted = salt_column(df, salt_factor)
    partial = salted.groupBy(*keys, "_salt").agg(*phase1_exprs)
    return partial.groupBy(*keys).agg(*phase2_exprs)


def hot_keys(df: DataFrame, key: str, threshold_fraction: float = 0.01) -> List:
    """Keys holding more than `threshold_fraction` of rows (the candidates
    worth salting). ONE scan of df: the grouped counts are cached, the total
    derives from their sum, and both follow-ups run over the (modest)
    post-agg key cardinality instead of rescanning the input."""
    grouped = df.groupBy(key).agg(F.count("*").alias("count")).persist()
    try:
        total = grouped.agg(F.sum("count")).first()[0] or 0
        cutoff = max(int(total * threshold_fraction), 1)
        rows = grouped.filter(F.col("count") >= cutoff).collect()
    finally:
        grouped.unpersist()
    return [r[key] for r in rows]
