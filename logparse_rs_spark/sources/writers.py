"""Sink writer abstraction (SURVEY §2.1 S3/S5/S6, §2.7 M1).

Production target is Iceberg (`df.writeTo(table).overwritePartitions()`);
this sandbox has no Iceberg jars, so the default implementation is a parquet
directory layout with Hive-style partitioning and DYNAMIC partition overwrite
— the same idempotent replace-only-touched-partitions semantics the resume
path (M4) relies on. The Iceberg writer activates automatically when the
runtime has the Iceberg Spark extension on the classpath.
"""

from __future__ import annotations

import os
import re
from typing import Iterable, List, Optional

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class ParquetWriter:
    """Parquet-directory sink with dynamic partition overwrite.

    Every write states its partitionOverwriteMode as a write option, so
    mode="overwrite" replaces ONLY the partitions present in `df` whatever
    the session's spark.sql.sources.partitionOverwriteMode (a spark-submit
    session keeps Spark's default, static) — replaying a bucket is
    idempotent and a resumed run keeps the buckets it skips.
    """

    def __init__(self, root: str):
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def write(self, df: DataFrame, table: str,
              partition_by: Optional[Iterable[str]] = None,
              mode: str = "overwrite",
              overwrite_mode: str = "dynamic") -> str:
        """overwrite_mode: "dynamic" replaces only the partitions present in
        df; "static" truncates the whole table first (for per-run scratch
        like the parse stage, where stale partitions from a previous run
        must not survive)."""
        w = df.write.mode(mode).option("partitionOverwriteMode",
                                       overwrite_mode)
        if partition_by:
            w = w.partitionBy(*list(partition_by))
        out = self.path(table)
        w.parquet(out)
        return out

    def append(self, df: DataFrame, table: str,
               partition_by: Optional[Iterable[str]] = None) -> str:
        return self.write(df, table, partition_by, mode="append")

    def read(self, spark: SparkSession, table: str) -> Optional[DataFrame]:
        p = self.path(table)
        if not _has_parquet(p):
            return None
        return spark.read.parquet(p)

    def tables(self) -> List[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )


class IcebergWriter:
    """Iceberg sink: writeTo(...).overwritePartitions() for idempotent bucket
    replays, createOrReplace on first write. Requires the Iceberg Spark
    runtime jars + a configured catalog; constructor raises if absent so
    callers fall back to ParquetWriter. Implements the same surface as
    ParquetWriter (write/append/read/tables) so plans.pipeline can use
    either interchangeably via make_writer."""

    def __init__(self, spark: SparkSession, namespace: str,
                 create_namespace: bool = False):
        if not iceberg_available(spark):
            raise RuntimeError("Iceberg Spark runtime not on the classpath")
        if not _is_sql_namespace(namespace):
            raise ValueError(
                f"{namespace!r} is not a SQL namespace (dotted identifiers); "
                "IcebergWriter needs a catalog namespace, not a filesystem "
                "path")
        self.spark = spark
        self.namespace = namespace
        if create_namespace:
            # fail fast here (catalog misconfigured) instead of at the first
            # sink write mid-pipeline
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {namespace}")

    def write(self, df: DataFrame, table: str,
              partition_by: Optional[Iterable[str]] = None,
              mode: str = "overwrite",
              overwrite_mode: str = "dynamic") -> str:
        """overwrite_mode="static" maps to truncate-and-replace
        (createOrReplace); the default is overwritePartitions — replace only
        the partitions present in df, Iceberg's idempotent-replay form.
        overwritePartitions is a dynamic overwrite by definition, so it
        does not read the session's partitionOverwriteMode."""
        fq = f"{self.namespace}.{table}"
        writer = df.writeTo(fq)
        if partition_by:
            from pyspark.sql import functions as F
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if not self.spark.catalog.tableExists(fq):
            writer.create()
        elif mode == "append":
            df.writeTo(fq).append()
        elif overwrite_mode == "static":
            writer.createOrReplace()
        else:
            df.writeTo(fq).overwritePartitions()
        return fq

    def append(self, df: DataFrame, table: str,
               partition_by: Optional[Iterable[str]] = None) -> str:
        return self.write(df, table, partition_by, mode="append")

    def read(self, spark: SparkSession, table: str) -> Optional[DataFrame]:
        fq = f"{self.namespace}.{table}"
        if not spark.catalog.tableExists(fq):
            return None
        return spark.table(fq)

    def tables(self) -> list:
        return sorted(t.name for t in
                      self.spark.catalog.listTables(self.namespace))


def _has_parquet(path: str) -> bool:
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


_NS_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$")


def _is_sql_namespace(root: str) -> bool:
    """True iff `root` is a dotted SQL identifier chain (an Iceberg
    namespace), not a filesystem path or URI like /tmp/out or s3://...."""
    return bool(_NS_RE.match(root))


def _iceberg_catalog_configured(spark: SparkSession, namespace: str) -> bool:
    """An Iceberg catalog must be EXPLICITLY configured for the namespace's
    leading identifier (or the session catalog) — Class.forName alone only
    proves jars are present, not that writes have anywhere to go."""
    leading = namespace.split(".")[0]
    for key in (f"spark.sql.catalog.{leading}",
                "spark.sql.catalog.spark_catalog"):
        try:
            impl = spark.conf.get(key, None)
        except Exception:
            impl = None
        if impl and "iceberg" in impl.lower():
            return True
    return False


def make_writer(spark: SparkSession, root: str,
                use_iceberg: Optional[bool] = None):
    """Pick the sink writer for `root`.

    use_iceberg=True  — require Iceberg; raises unless the jars are present,
                        `root` is a SQL namespace, and a catalog is
                        configured for it.
    use_iceberg=False — parquet directories, always.
    use_iceberg=None  — parquet unless ALL Iceberg preconditions hold (the
                        r2 form auto-picked Iceberg on jar presence alone
                        and then used a path like /tmp/out as a namespace).
    """
    if use_iceberg is False:
        return ParquetWriter(root)
    eligible = (_is_sql_namespace(root) and iceberg_available(spark)
                and _iceberg_catalog_configured(spark, root))
    if use_iceberg:
        if not eligible:
            raise ValueError(
                f"Iceberg writer requested but unavailable for {root!r}: "
                "need Iceberg jars, a dotted namespace (not a path), and a "
                "spark.sql.catalog.<name> Iceberg catalog configuration")
        return IcebergWriter(spark, root, create_namespace=True)
    return (IcebergWriter(spark, root, create_namespace=True) if eligible
            else ParquetWriter(root))
