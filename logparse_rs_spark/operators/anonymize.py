"""Anonymization as Catalyst column expressions (SURVEY §2.3).

The reference's anonymize_one (anonymizer/table.rs:45-78) is a stateful,
lock-guarded memo; because tokens are deterministic pure functions the memo is
unnecessary — each mode compiles to a column expression:

- fixed     -> F.lit(const)                         (table.rs:58)
- tokenize  -> Arrow-batched keyed-FNV pandas UDF   (table.rs:28-44)
- map       -> map-literal lookup (any dictionary size); miss -> fallback
              expr; reject-miss keeps the ORIGINAL value (src/lib.rs:354-359)

Null values are never anonymized (src/lib.rs:353) — every expression is
null-preserving.

The integrity/audit table (field, original, replacement) is recovered as one
distinct set of originals per field, each tokenized by its own field's
expression — see audit_table().
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, List

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..anonymizer import CompiledAnonymizer, FieldPlan
from ..functions import lookup, tokenize_col


def _tokenize_expr(col: Column, plan: FieldPlan, default_salt: str) -> Column:
    return tokenize_col(col, plan.token_prefix, plan.field_salt, default_salt)


def anonymize_expr(col: Column, plan: FieldPlan, default_salt: str) -> Column:
    """Column expression implementing plan.apply_one element-wise."""
    if plan.mode is None:
        return col
    if plan.mode == "fixed":
        return F.when(col.isNull(), F.lit(None).cast("string")) \
                .otherwise(F.lit(plan.fixed))
    if plan.mode == "tokenize":
        return _tokenize_expr(col, plan, default_salt)
    # map mode
    if plan.fallback == "fixed":
        miss: Column = F.lit(plan.fixed)
    elif plan.fallback == "reject":
        miss = col  # caller keeps the original value
    else:
        miss = _tokenize_expr(col, plan, default_salt)
    hit = F.coalesce(lookup(col, plan.map), miss) if plan.map else miss
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(hit)


def audit_table(pre: DataFrame, anon: CompiledAnonymizer,
                columns: Iterable[str]) -> DataFrame:
    """Integrity/audit table: distinct (field, original, replacement) over all
    values the reference's integrity table would record (table.rs:75-77,
    S6/M3) — i.e. transformed values, excluding reject-misses and passthrough.

    `pre` must hold the PRE-anonymization projected columns. Each field's
    non-null originals are deduped, then run through that field's own token
    expression — the 100 TB-scale trick: anonymize distincts, not rows — and
    the per-field pieces are unioned. The pieces stay apart until then
    because a Python UDF inside a `when` branch runs on every row whichever
    branch the row takes: choosing the expression by field name would run
    every field's tokenizer on every distinct value.
    """
    pieces: List[DataFrame] = []
    for name in columns:
        plan = anon.plan_for(name)
        if plan.mode is None:
            continue
        originals = pre.select(F.col(name).alias("original")) \
                       .filter(F.col("original").isNotNull())
        if plan.mode == "map" and plan.fallback == "reject":
            if not plan.map:
                continue  # empty map + reject records nothing
            originals = originals.filter(
                F.col("original").isin(list(plan.map)))
        pieces.append(originals.distinct().select(
            F.lit(name).alias("field"), "original",
            anonymize_expr(F.col("original"), plan, anon.default_salt)
            .alias("replacement")))
    if not pieces:
        raise ValueError("No anonymized columns among: " + ", ".join(columns))
    return reduce(DataFrame.unionByName, pieces)
