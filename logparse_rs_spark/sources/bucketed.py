"""Bucketed-table storage for shuffle-free co-located joins (SURVEY §2.5 /
M5 partitioning).

At 100 TB the dominant join cost is the shuffle of the fact side. Spark's
bucketed tables (`bucketBy(n, key).sortBy(key).saveAsTable`) persist the
hash-partitioned layout in the catalog, so a later equi-join between two
tables bucketed on the same key with the same bucket count is planned as a
SortMergeJoin WITHOUT an Exchange on either side — the co-location is
reused across every downstream job that joins on the key, amortizing one
write-time shuffle over N read-time joins (e.g. the per-sink parsed tables
joined back to per-url enrichment dims keyed by url hash).

The pipeline's parquet sinks stay plain (Hive-style bucket partitioning by
pmod(xxhash64(url), B) — the resume/lineage grain); THIS layout is the
query-serving variant where join locality matters more than replayability.
Iceberg's analog is `bucket(n, key)` partition transforms + storage-
partitioned joins.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_cols: Sequence[str],
                   n_buckets: int) -> str:
    """Persist df as a catalog-managed parquet bucketed table, replacing
    any previous one. Each bucket file is pre-sorted by the bucket key so
    the join side needs no sort either."""
    (df.write.format("parquet").mode("overwrite")
       .bucketBy(n_buckets, *bucket_cols)
       .sortBy(*bucket_cols)
       .saveAsTable(table))
    return table


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  on: Iterable[str]) -> DataFrame:
    """Inner-join two same-key same-bucket-count tables; Catalyst plans
    this shuffle-free (no Exchange under the SortMergeJoin). Verify with
    plan_has_shuffle()."""
    return spark.table(left_table).join(spark.table(right_table), list(on))


def plan_has_shuffle(df: DataFrame) -> bool:
    """True if the physical plan contains any Exchange (shuffle) operator —
    the assertion hook for co-location tests."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange" in plan
