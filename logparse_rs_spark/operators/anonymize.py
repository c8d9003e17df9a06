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

The integrity/audit table (field, original, replacement) is recovered as a
distinct aggregation over (pre, post) column pairs — see audit_table().
"""

from __future__ import annotations

from typing import Iterable, List, Optional

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

    `pre` must hold the PRE-anonymization projected columns. Stack the
    (field, orig) pairs, dedupe, then apply the pure token expressions to the
    tiny distinct set — the 100 TB-scale trick: anonymize distincts, not rows.
    """
    pieces: List[DataFrame] = []
    for name in columns:
        plan = anon.plan_for(name)
        if plan.mode is None:
            continue
        col = F.col(name)
        sel = pre.select(F.lit(name).alias("field"), col.alias("original")) \
                 .filter(col.isNotNull())
        if plan.mode == "map" and plan.fallback == "reject" and plan.map:
            sel = sel.filter(F.col("original").isin(list(plan.map)))
        elif plan.mode == "map" and plan.fallback == "reject":
            continue  # empty map + reject records nothing
        pieces.append(sel)
    if not pieces:
        raise ValueError("No anonymized columns among: " + ", ".join(columns))
    stacked = pieces[0]
    for p in pieces[1:]:
        stacked = stacked.unionByName(p)
    distinct = stacked.distinct()
    repl: Optional[Column] = None
    for name in columns:
        plan = anon.plan_for(name)
        if plan.mode is None:
            continue
        e = anonymize_expr(F.col("original"), plan, anon.default_salt)
        repl = (F.when(F.col("field") == name, e) if repl is None
                else repl.when(F.col("field") == name, e))
    return distinct.select("field", "original", repl.alias("replacement"))
