"""Sketch-first exact analytics: heavy hitters via a Misra-Gries candidate
pass plus an exact verification pass.

Why not just ``groupBy(item).count().filter(...)``? At 100 TB the item
column (tokens, n-grams, URLs) can have a vocabulary in the billions, so
even with map-side partial aggregation the shuffle carries vocab-sized
data. Heavy hitters above a FREQUENCY threshold (freq > N / support_den)
are at most ``support_den`` items, so the right plan is:

1. **Candidate pass (no shuffle).** One mergeable Misra-Gries summary per
   partition (Agarwal et al., "Mergeable Summaries", PODS'12): k counters
   merged batch-at-a-time; each merge adds the batch's value_counts and
   subtracts the (k+1)-th largest counter, dropping non-positives. The MG
   undercount bound gives: any item with partition count > n_p/(k+1)
   survives locally, and summing over partitions, any item with GLOBAL
   count > N/(k+1) must exceed that local bound somewhere (pigeonhole).
   With k >= support_den the union of per-partition candidates is a
   guaranteed superset of the true heavy hitters.
2. **Exact pass (candidate-sized shuffle).** Broadcast the candidate set
   (<= k rows per input partition, independent of N), left-semi join the
   items, exact count, strict filter ``count * support_den > N``.

The result is EXACT (deterministic, oracle-checkable) while the only
all-data shuffle of the naive plan is replaced by a broadcast semi-join;
the exact count's groupBy shuffles candidate items only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_shrink(acc: dict, k: int) -> None:
    """Shrink a counter dict to at most k entries by subtracting the
    (k+1)-th largest count from every counter (the mergeable-summaries
    merge step)."""
    if len(acc) <= k:
        return
    cut = sorted(acc.values(), reverse=True)[k]
    for item in [i for i, c in acc.items() if c - cut <= 0]:
        del acc[item]
    for item in acc:
        acc[item] -= cut


def misra_gries_partition(pdf_iter, item_col: str, k: int):
    """Per-partition mergeable Misra-Gries over Arrow batches. Yields the
    surviving counters plus the partition row count (so the caller can
    reconstruct N without a second scan)."""
    import pandas as pd
    from pyspark import TaskContext

    acc: dict = {}
    n_rows = 0
    for pdf in pdf_iter:
        col = pdf[item_col]
        n_rows += len(col)
        # vectorized within-batch count, python loop only over DISTINCT
        # batch items (bounded by batch size, typically << rows)
        for item, c in col.value_counts().items():
            acc[item] = acc.get(item, 0) + int(c)
        _mg_shrink(acc, k)
    if n_rows:
        pid = TaskContext.get().partitionId()
        yield pd.DataFrame({
            "item": list(acc.keys()) or [None],
            "part_id": pid, "part_rows": n_rows})


def heavy_hitters_exact(items: DataFrame, item_col: str,
                        support_den: int,
                        counters: int | None = None) -> DataFrame:
    """Exact items with count * support_den > N (frequency > 1/support_den
    of the stream), computed with a Misra-Gries candidate pre-filter so no
    vocab-sized shuffle ever happens.

    ``counters`` (default ``support_den``) must be >= support_den for the
    superset guarantee; raise it to tighten the candidate set.

    Returns (item STRING, n BIGINT).
    """
    if counters is None:
        counters = support_den
    if counters < support_den:
        raise ValueError(
            f"counters={counters} < support_den={support_den} breaks the "
            "Misra-Gries superset guarantee")
    k = counters
    col = item_col

    def mg(pdf_iter):
        yield from misra_gries_partition(pdf_iter, col, k)

    summary = (items.select(F.col(col).cast("string").alias(col))
               .mapInPandas(mg, "item string, part_id int, part_rows long")
               .persist())
    try:
        total = (summary.groupBy("part_id")
                 .agg(F.max("part_rows").alias("r"))
                 .agg(F.sum("r")).collect()[0][0]) or 0
        cand = summary.filter(F.col("item").isNotNull()) \
            .select("item").distinct()
        return (items
                .join(F.broadcast(cand),
                      items[col].cast("string") == cand["item"], "left_semi")
                .groupBy(F.col(col).cast("string").alias("item"))
                .agg(F.count("*").alias("n"))
                .filter(F.col("n") * support_den > F.lit(total)))
    finally:
        # the exact pass re-reads `items`, not `summary`; unpersist lazily
        # after the plan is built (the collected total is already final)
        summary.unpersist(blocking=False)
