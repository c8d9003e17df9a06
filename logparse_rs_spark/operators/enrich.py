"""Broadcast-join enrichment against lookup dictionaries (SURVEY §2.5 J4,
FIXTURES.md §5): dim_lang.

Every dim is tiny -> F.broadcast() left joins; the fact side never shuffles.
Dim contents are deterministic module constants so the DuckDB oracle can
inline them as VALUES lists.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DIM_LANG: List[Tuple[str, str, str]] = [
    ("en", "English", "germanic"),
    ("de", "German", "germanic"),
    ("fr", "French", "romance"),
    ("es", "Spanish", "romance"),
    ("unknown", "Unknown", "unknown"),
]


def dim_lang_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(DIM_LANG, "lang string, lang_name string, "
                                           "lang_family string")


def enrich_with_lang(parsed: DataFrame, spark: SparkSession) -> DataFrame:
    """Left broadcast join: page lang code -> language name/family."""
    dim = dim_lang_df(spark)
    return parsed.join(F.broadcast(dim), on="lang", how="left")
