"""Spark-level column functions: the pandas UDFs backed by the vectorized
kernels, and `lookup`, the one literal-map lookup every keyed choice uses.

Every UDF here is Arrow-batched (never row-at-a-time Python). Catalyst
groups all pandas UDFs referenced in one projection into a single
ArrowEvalPython stage, so e.g. six tokenized columns cost one Python crossing.
"""

from __future__ import annotations

from typing import List, Mapping

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import (
    fnv1a_series,
    split_csv,
    strip_syslog_prefix_series,
    tokenize_series,
)

# The three per-line Python kernels are SEPARATE nondeterministic pandas UDFs
# over the same raw input on purpose:
#   - all three land in ONE ArrowEvalPython stage (single Python crossing);
#   - a query that never reads hash64 gets the hash UDF pruned entirely;
#   - asNondeterministic() is an optimizer barrier so neither predicate
#     pushdown nor projection collapse re-evaluates a UDF per reference
#     (observed: the status filter otherwise duplicates the whole stage).
# Each re-does the (cheap, vectorized) line prep rather than chaining on a
# previous UDF's output — chained Python UDFs would need two stages.


def _parse_udfs(prep):
    """The (line, hash64, qfields) UDF triple over ``prep(raw)``. The
    Python function names are what plans and UDF profiles show."""

    @F.pandas_udf(T.StringType())
    def _line_of(raw: pd.Series) -> pd.Series:
        """The prepared line."""
        return prep(raw)

    @F.pandas_udf(T.LongType())
    def _hash64_of(raw: pd.Series) -> pd.Series:
        """FNV-1a-64 of the prepared line, two's-complement int64."""
        line = prep(raw)
        return pd.Series(fnv1a_series(line).view("int64"), index=line.index)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _qfields_of(raw: pd.Series) -> pd.Series:
        """Exact quote-aware split for lines containing a double quote;
        null for quote-free lines (the JVM built-in `split` is exactly
        equivalent there)."""
        line = prep(raw)
        has_quote = line.str.contains('"', regex=False)
        out = pd.Series([None] * len(line), index=line.index, dtype=object)
        if has_quote.any():
            out[has_quote] = line[has_quote].map(split_csv)
        return out

    return tuple(u.asNondeterministic()
                 for u in (_line_of, _hash64_of, _qfields_of))


def _strip_cr(raw: pd.Series) -> pd.Series:
    """Raw-line prep (NDJSON path parity, bindings lib.rs:394-463: the
    reference parses the raw line — no syslog strip, no trim). Only a single
    trailing \\r is removed, replicating the Python path's universal-newline
    decoding of CRLF files (spark.read.text splits on \\n alone)."""
    return raw.str.replace(r"\r$", "", regex=True)


# syslog prefix removed and whitespace trimmed (the pipeline default)
line_of, hash64_of, qfields_of = _parse_udfs(strip_syslog_prefix_series)
line_of_raw, hash64_of_raw, qfields_of_raw = _parse_udfs(_strip_cr)


def fnv1a_col(col) -> F.Column:
    """FNV-1a-64 of a string column as two's-complement LongType."""

    @F.pandas_udf(T.LongType())
    def _fnv(s: pd.Series) -> pd.Series:
        import numpy as np

        # duplicate-heavy batches (e.g. tokens drawn from a small
        # vocabulary): hash each DISTINCT value once and scatter — same
        # hashes, same null handling as the direct path
        if len(s) >= 1024:
            codes, uniq = s.factorize(use_na_sentinel=True)
            if 0 < len(uniq) and len(uniq) * 4 <= len(s):
                hu = fnv1a_series(pd.Series(uniq)).view("int64")
                out = pd.Series(hu[np.maximum(codes, 0)], index=s.index)
                out[codes < 0] = None
                return out
        out = pd.Series(fnv1a_series(s).view("int64"), index=s.index)
        out[s.isna()] = None
        return out

    return _fnv(col)


def tokenize_col(col, prefix: str, field_salt: str, default_salt: str) -> F.Column:
    """Deterministic anonymization token column (table.rs:28-44 semantics):
    kernels.tokenize_series as a pandas UDF. Null in -> null out."""

    @F.pandas_udf(T.StringType())
    def _tok(s: pd.Series) -> pd.Series:
        return tokenize_series(s, prefix, field_salt, default_salt)

    return _tok(col)


def lookup(key: Column, values: Mapping[str, object]) -> Column:
    """`values[key]` from one literal map (null on a miss, and for an empty
    mapping): the plan holds one constant map, however many keys, shipped
    once per task with the plan."""
    entries: List[Column] = []
    for k, v in values.items():
        entries.extend([F.lit(k), F.lit(v)])
    if not entries:
        return F.lit(None)
    return F.try_element_at(F.create_map(*entries), key)
