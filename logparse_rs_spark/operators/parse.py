"""The parse operator: pages DataFrame -> per-line parsed records.

Spark re-expression of the reference's parse path (SURVEY §3.1-3.3):

    pages (url, warc_ts, html, text, lang)
      -> posexplode(split(text, '\\n'))              [JVM, gives line_ordinal]
      -> line_of / hash64_of / qfields_of pandas     [ONE ArrowEvalPython
         UDFs (functions._parse_udfs)                 stage: prepped line,
                                                      hash64, rare quoted
                                                      split]
      -> JVM split for quote-free lines, status classification,
         per-type positional projection via F.get    [whole-stage codegen]

Dispatch on CSV index 3 (parser.rs:11); skip/strict handling mirrors the
NDJSON path (bindings/python/src/lib.rs:412-423): every input line is kept
with a status in {ok, empty, malformed, unknown_type} so routed-row counts
and reject side-outputs are exact.

The output keeps `fields array<string>` unexploded; per-type columns are
projected lazily with `F.get(fields, pos)` so Catalyst prunes everything a
downstream sink doesn't read (the reference parses all 117 TRAFFIC positions
per line unconditionally — columnar pruning is our structural win).
"""

from __future__ import annotations

from typing import Iterable, Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..anonymizer import CompiledAnonymizer
from ..functions import (hash64_of, hash64_of_raw, line_of, line_of_raw,
                         lookup, qfields_of, qfields_of_raw)
from ..schema import CompiledSchema
from .anonymize import anonymize_expr

STATUS_OK = "ok"
STATUS_EMPTY = "empty"
STATUS_MALFORMED = "malformed"
STATUS_UNKNOWN = "unknown_type"


def explode_lines(pages: DataFrame, keep_cols: Iterable[str] = ("lang",)) -> DataFrame:
    """pages -> one row per text line with a deterministic (url, line_ordinal)
    identity (input-derived, NOT monotonically_increasing_id — stable under
    any partitioning, SURVEY §4)."""
    cols = [F.col(c) for c in ("url", *keep_cols)]
    return pages.select(
        *cols,
        F.posexplode(F.split(F.col("text"), "\n", -1)).alias("line_ordinal", "raw_line"),
    )


def parse_lines(lines: DataFrame, schema: CompiledSchema,
                strip_prefix: bool = True) -> DataFrame:
    """Attach line/hash64/fields/log_type/status to exploded lines.

    strip_prefix=True (pipeline default) removes syslog prefixes and trims
    whitespace before dispatch/hash/excerpt; strip_prefix=False parses the
    raw line exactly like the reference's NDJSON path
    (bindings/python/src/lib.rs:394-463)."""
    known = list(schema.type_to_fields)
    n_fields = F.size(F.col("_fields"))
    # extract_field(line, 3) edge semantics (tokenizer.rs:4-65): value when
    # >=4 fields; phantom "" when exactly 3 fields and no trailing comma;
    # otherwise null (malformed).
    log_type = (
        F.when(n_fields >= 4, F.get(F.col("_fields"), 3))
        .when((n_fields == 3) & ~F.col("line").endswith(","), F.lit(""))
        .otherwise(F.lit(None).cast("string"))
    )
    df = (
        lines
        # one ArrowEvalPython stage: line + hash + rare quoted split (the
        # hash UDF is pruned automatically by queries that never read hash64)
        .withColumns({
            "line": (line_of if strip_prefix
                     else line_of_raw)(F.col("raw_line")),
            "_hash64": (hash64_of if strip_prefix
                        else hash64_of_raw)(F.col("raw_line")),
            "qfields": (qfields_of if strip_prefix
                        else qfields_of_raw)(F.col("raw_line")),
        })
        .drop("raw_line")
        # NOTE: the split fields array is deliberately NOT part of the parse
        # output — storing/caching a 46-117 element array per row costs more
        # than recomputing the JVM split at projection time (measured ~1.6x
        # on the staging write and the wide sink writes). `qfields` (null for
        # quote-free lines) persists the Python-exact split so the Python
        # stage never re-runs downstream; fields_col() rebuilds the array.
        .withColumn("_fields", _fields_expr())
        .withColumn("log_type", log_type)
        .withColumn(
            "status",
            F.when(F.col("line") == "", F.lit(STATUS_EMPTY))
            .when(F.col("log_type").isNull(), F.lit(STATUS_MALFORMED))
            .when(~F.col("log_type").isin(known), F.lit(STATUS_UNKNOWN))
            .otherwise(F.lit(STATUS_OK)),
        )
        .drop("_fields")
        .withColumn("hash64",
                    F.when(F.col("status") == STATUS_OK, F.col("_hash64")))
        .drop("_hash64")
        .withColumn("raw_excerpt",
                    F.when(F.col("status") == STATUS_OK,
                           F.substring(F.col("line"), 1, 256)))
    )
    return df


def _fields_expr() -> Column:
    return (
        F.when(F.col("line") == "", F.array().cast("array<string>"))
        .otherwise(F.coalesce(F.col("qfields"),
                              F.split(F.col("line"), ",", -1)))
    )


def fields_col(parsed: DataFrame) -> DataFrame:
    """Attach the split-fields array (recomputed from line/qfields)."""
    return parsed.withColumn("fields", _fields_expr())


def by_log_type(values: Mapping[str, object]) -> Column:
    """Each row's value for its own log_type, read from one literal map
    (null for a type the map lacks): the reference's type -> field names
    dispatch (schema.rs:58-81) as one lookup, whatever the type count."""
    return lookup(F.col("log_type"), values)


def fields_map(schema: CompiledSchema, types: Sequence[str],
               replaced: Mapping[str, Column]) -> Column:
    """Each row's schema fields as map<string,string> name -> split field,
    in schema order, for rows whose log_type is in `types`: the type looks
    up its names and their positions as two literal arrays. A name in
    `replaced` takes that column's value instead of its split field."""
    pairs = {t: schema.effective_positions(t) for t in types}
    names = by_log_type({t: [n for n, _ in p] for t, p in pairs.items()})
    positions = by_log_type({t: [i for _, i in p] for t, p in pairs.items()})

    def value(name: Column, pos: Column) -> Column:
        v = F.get(F.col("fields"), pos)
        for n, c in replaced.items():
            v = F.when(name == n, c).otherwise(v)
        return v

    return F.map_from_arrays(names, F.zip_with(names, positions, value))


def parse_pages(pages: DataFrame, schema: CompiledSchema,
                keep_cols: Iterable[str] = ("lang",)) -> DataFrame:
    """Full scan-side pipeline: explode + parse. Filter/project downstream."""
    return parse_lines(explode_lines(pages, keep_cols), schema)


def rejected(parsed: DataFrame) -> DataFrame:
    """Reject side-output (strict-mode counterpart of the skip path P7)."""
    return parsed.filter(F.col("status") != STATUS_OK)


def project_type(parsed: DataFrame, schema: CompiledSchema, log_type: str,
                 columns: Optional[Iterable[str]] = None,
                 anon: Optional[CompiledAnonymizer] = None) -> DataFrame:
    """Project the ok-rows of one log type to named columns.

    Positional zip of the type's sanitized names with the split fields;
    missing trailing fields -> null; duplicate sanitized name -> LAST position
    wins (canonical Rust semantics, src/lib.rs:34-41). With `anon`, each
    column is wrapped in its compiled anonymization expression — tokens are
    pure functions, so anonymization is embarrassingly parallel here (the
    reference serializes on a global lock, src/lib.rs:348).

    Physical-form note: the full-width TRAFFIC projection (117 F.get +
    anon expressions, whole-stage codegen) was measured against a single
    mapInPandas stage doing the same split+project+anonymize in Python
    (a one-off probe, commit 6277232): JVM form 6.5-10s vs pandas form
    21-25s at 1.23M rows / 8 cores — the codegen'd gets win ~3x, so wide
    projections stay JVM-side.
    """
    pairs = schema.effective_positions(log_type)
    if columns is not None:
        wanted = set(columns)
        pairs = [(n, p) for n, p in pairs if n in wanted]
    out_cols = [F.col("url"), F.col("line_ordinal")]
    for name, pos in pairs:
        c = F.get(F.col("fields"), pos)
        if anon is not None:
            plan = anon.plan_for(name)
            c = anonymize_expr(c, plan, anon.default_salt)
        out_cols.append(c.alias(name))
    out_cols += [F.col("raw_excerpt"), F.col("hash64")]
    return (
        parsed
        .filter((F.col("status") == STATUS_OK) & (F.col("log_type") == log_type))
        .withColumn("fields", _fields_expr())
        .select(*out_cols)
    )


def include_all_map(parsed: DataFrame) -> Column:
    """The `include_all` projection (P5, rust_accel.py:262-282) as a
    map<string,string> column of field_i -> value for every CSV position.
    Schema-named keys stay in their own columns; merging (schema keys win)
    happens at read time via map_concat semantics if callers need the union.
    """
    fields = _fields_expr()
    return F.map_from_arrays(
        F.transform(fields,
                    lambda _, i: F.concat(F.lit("field_"), i.cast("string"))),
        fields)
