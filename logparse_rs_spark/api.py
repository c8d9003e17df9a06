"""Drop-in compatibility facade mirroring the reference's Python API surface
(bindings/python/python/logparse_rs/rust_accel.py) so a user of the reference
can switch imports and run everything they run today:

    from logparse_rs_spark import api as logparse_rs

Single-record functions run the canonical pure-Python kernels on the caller's
thread (same latency class as the reference's fallback path; the reference's
"Rust fast path" role is played by the Spark operators for bulk work).
The batch entry points `parse_many_parallel` and `parse_file_parallel` run
vectorized kernels over batches; `parse_file_to_ndjson` runs the distributed
Spark pipeline whenever a SparkSession is active (or `use_spark=True`),
whatever the file's size.

Module-level mutable state (loaded schema / anonymizer / integrity table)
reproduces the reference's process-wide caches, including env-var preload at
import (docs/env.md:7-16) and mtime-based hot reload (schema.rs:97-115).
"""

from __future__ import annotations

import json as _json
import os
from typing import Dict, Iterable, Iterator, List, Optional, Tuple

import pandas as pd  # module scope: pandas_udf resolves 'pd.Series' hints here

from .anonymizer import CompiledAnonymizer
from .anonymizer import anonymizer_from_json as _anon_from_json
from .anonymizer import load_anonymizer as _load_anon_file
from .kernels import extract_field as _extract_field
from .kernels import fnv1a_hash64 as hash64_fnv1a  # re-export name parity
from .kernels import split_csv as _split_csv
from .refimpl import MalformedLine, UnknownLogType
from .refimpl import integrity_entries as _integrity_entries
from .refimpl import parse_kv as _parse_kv
from .refimpl import parse_kv_enriched as _parse_kv_enriched
from .schema import CompiledSchema
from .schema import load_schema as _load_schema_file

_SCHEMA: Optional[CompiledSchema] = None
_ANON: Optional[CompiledAnonymizer] = None
# field -> {orig -> repl}: grows as values are anonymized (table.rs:8,75-77)
_INTEGRITY: Dict[str, Dict[str, str]] = {}


# ---------------------------------------------------------------------------
# tokenizer surface
# ---------------------------------------------------------------------------

def get_field(line: str, index: int) -> Optional[str]:
    return _extract_field(line, index)


def get_fields(line: str) -> List[str]:
    return _split_csv(line)


def get_type_subtype(line: str) -> Tuple[Optional[str], Optional[str]]:
    return _extract_field(line, 3), _extract_field(line, 4)


# ---------------------------------------------------------------------------
# schema surface
# ---------------------------------------------------------------------------

def load_schema(schema_path: str) -> bool:
    global _SCHEMA
    _SCHEMA = _load_schema_file(schema_path)
    return True


def _ensure_schema(schema_path: Optional[str] = None) -> CompiledSchema:
    global _SCHEMA
    if schema_path:
        if (_SCHEMA is None or _SCHEMA.path != schema_path or _SCHEMA.stale()):
            _SCHEMA = _load_schema_file(schema_path)
    elif _SCHEMA is not None and _SCHEMA.stale():
        _SCHEMA = _load_schema_file(_SCHEMA.path)
    if _SCHEMA is None:
        raise ValueError(
            "No schema loaded. Call load_schema() or parse_kv_with_schema().")
    return _SCHEMA


def load_embedded_schema() -> bool:
    """Facade parity with the reference's compile-time embedded schema
    (rust_accel.py:72-78: the Rust build can bake a schema in with
    --features embed_schema). A pure-Python build has no compile-time
    embedding; the nearest analog is the LOGPARSE_PRELOAD_SCHEMA /
    SCHEMA_JSON_PATH env path, which we honor as the 'embedded' source.
    Raises RuntimeError when neither is set — the same contract as the
    reference built WITHOUT the feature."""
    path = os.getenv("LOGPARSE_PRELOAD_SCHEMA") or os.getenv(
        "SCHEMA_JSON_PATH")
    if not path:
        raise RuntimeError(
            "Embedded schema not supported in the pure-Python build; set "
            "LOGPARSE_PRELOAD_SCHEMA (or SCHEMA_JSON_PATH) or call "
            "load_schema()")
    return load_schema(path)


def get_schema_status() -> Dict[str, object]:
    loaded = _SCHEMA is not None
    mtime_ms = None
    if loaded and _SCHEMA.mtime:
        mtime_ms = int(_SCHEMA.mtime * 1000)
    return {
        "loaded": loaded,
        "source": "file" if loaded and _SCHEMA.path else None,
        "path": _SCHEMA.path if loaded else None,
        "mtime_epoch_ms": mtime_ms,
    }


# ---------------------------------------------------------------------------
# parse surface
# ---------------------------------------------------------------------------

def parse_kv(line: str, include_all: bool = False) -> Dict[str, Optional[str]]:
    return _parse_kv(line, _ensure_schema(), include_all=include_all)


def parse_kv_with_schema(line: str, schema_path: str,
                         include_all: bool = False) -> Dict[str, Optional[str]]:
    return _parse_kv(line, _ensure_schema(schema_path), include_all=include_all)


def parse_kv_enriched(line: str, include_all: bool = False) -> Dict:
    return _parse_kv_enriched(line, _ensure_schema(), include_all=include_all)


def parse_kv_enriched_with_schema(line: str, schema_path: str,
                                  include_all: bool = False) -> Dict:
    return _parse_kv_enriched(line, _ensure_schema(schema_path),
                              include_all=include_all)


def _anonymize_parsed(parsed: Dict[str, Optional[str]]) -> Dict[str, Optional[str]]:
    if _ANON is None:
        raise RuntimeError("Anonymized parse requires an anonymizer config "
                           "(load_anonymizer/set_anonymizer_json)")
    # the values integrity_entries leaves out (null, passthrough,
    # reject-miss) are the ones anonymization returns unchanged
    out = dict(parsed)
    for k, v, repl in _integrity_entries(parsed, _ANON):
        _INTEGRITY.setdefault(k, {})[v] = repl
        out[k] = repl
    return out


def parse_kv_enriched_anon(line: str, include_all: bool = False) -> Dict:
    d = parse_kv_enriched(line, include_all=include_all)
    d["parsed"] = _anonymize_parsed(d["parsed"])
    d["_anonymized"] = True
    return d


def parse_kv_enriched_with_schema_anon(line: str, schema_path: str,
                                       include_all: bool = False) -> Dict:
    _ensure_schema(schema_path)
    return parse_kv_enriched_anon(line, include_all=include_all)


# ---------------------------------------------------------------------------
# anonymizer surface
# ---------------------------------------------------------------------------

def load_anonymizer(config_path: str) -> bool:
    global _ANON, _INTEGRITY
    _ANON = _load_anon_file(config_path)
    _INTEGRITY = {}
    return True


def set_anonymizer_json(config_json: str) -> bool:
    global _ANON, _INTEGRITY
    _ANON = _anon_from_json(config_json)
    _INTEGRITY = {}
    return True


def get_anonymizer_status() -> Dict[str, object]:
    return {
        "enabled": _ANON is not None,
        "fields": len(_INTEGRITY),
        "pairs": sum(len(m) for m in _INTEGRITY.values()),
    }


def export_integrity_table(path: Optional[str] = None) -> Dict[str, Dict[str, str]]:
    snapshot = {k: dict(v) for k, v in _INTEGRITY.items()}
    if path:
        with open(path, "w", encoding="utf-8") as f:
            _json.dump(snapshot, f, indent=2, sort_keys=True)
    return snapshot


# ---------------------------------------------------------------------------
# batch / file surface
# ---------------------------------------------------------------------------

def parse_many(lines: Iterable[str], *, anonymized: bool = False,
               include_all: bool = False,
               schema_path: Optional[str] = None) -> Iterator[Dict]:
    """Skip falsy lines, rstrip '\\n' only (rust_accel.py:473-506)."""
    if schema_path:
        _ensure_schema(schema_path)
    for line in lines:
        if not line:
            continue
        line = line.rstrip("\n")
        if anonymized:
            yield parse_kv_enriched_anon(line, include_all=include_all)
        else:
            yield parse_kv_enriched(line, include_all=include_all)


def parse_file(path: str, *, anonymized: bool = False, include_all: bool = False,
               schema_path: Optional[str] = None, encoding: str = "utf-8",
               errors: str = "ignore") -> Iterator[Dict]:
    # a blank line reads as "\n", which parse_many would not skip
    with open(path, "r", encoding=encoding, errors=errors) as f:
        yield from parse_many((line.rstrip("\n") for line in f),
                              anonymized=anonymized, include_all=include_all,
                              schema_path=schema_path)


def parse_many_parallel(lines: Iterable[str], *, batch_size: int = 1024,
                        rayon_threads: Optional[int] = None,
                        include_all: bool = False,
                        schema_path: Optional[str] = None) -> Iterator[Dict]:
    """Batched bulk parse. The reference fans batches across a Rayon pool
    (rust_accel.py:527-555); here each batch runs the vectorized numpy
    kernels (hash across the whole batch at once) — `rayon_threads` is
    accepted for signature parity (process-level parallelism is Spark's job).
    Matches the reference's restriction: no anonymization in this path.
    """
    import pandas as pd

    from .kernels import fnv1a_series
    schema = _ensure_schema(schema_path)

    buf: List[str] = []

    def flush(batch: List[str]) -> Iterator[Dict]:
        hashes = fnv1a_series(pd.Series(batch))
        for i, line in enumerate(batch):
            yield {
                "parsed": _parse_kv(line, schema, include_all=include_all),
                "raw_excerpt": line[:256],
                "hash64": int(hashes[i]),
            }

    for line in lines:
        if not line:
            continue
        buf.append(line.rstrip("\n"))
        if len(buf) >= batch_size:
            yield from flush(buf)
            buf = []
    if buf:
        yield from flush(buf)


def parse_file_parallel(path: str, *, batch_size: int = 1024,
                        rayon_threads: Optional[int] = None,
                        encoding: str = "utf-8", errors: str = "ignore",
                        schema_path: Optional[str] = None) -> Iterator[Dict]:
    with open(path, "r", encoding=encoding, errors=errors) as f:
        yield from parse_many_parallel(f, batch_size=batch_size,
                                       rayon_threads=rayon_threads,
                                       schema_path=schema_path)


def parse_file_to_ndjson(input_path: str, output_path: str, *,
                         schema_path: Optional[str] = None,
                         encoding: str = "utf-8", errors: str = "ignore",
                         use_spark: Optional[bool] = None) -> int:
    """File -> NDJSON sink (bindings/python/src/lib.rs:392-463): skips empty,
    malformed, and unknown-type lines; returns rows written.

    use_spark=True, or use_spark=None with an active SparkSession (the
    file's size is not checked), routes through the distributed parse
    pipeline; otherwise a streaming single-process path.
    """
    schema = _ensure_schema(schema_path)
    if use_spark is None:
        try:
            from pyspark.sql import SparkSession
            use_spark = SparkSession.getActiveSession() is not None
        except Exception:
            use_spark = False
    if use_spark:
        return _ndjson_via_spark(input_path, output_path, schema)

    count = 0
    with open(input_path, "r", encoding=encoding, errors=errors) as fin, \
            open(output_path, "w", encoding="utf-8") as fout:
        for raw in fin:
            line = raw.rstrip("\n")
            if not line:
                continue
            t = _extract_field(line, 3)
            if t is None or t not in schema.type_to_fields:
                continue
            rec = _parse_kv_enriched(line, schema)
            _json.dump(rec, fout)
            fout.write("\n")
            count += 1
    return count


def _ndjson_frame(input_path: str, schema: CompiledSchema):
    """The Spark NDJSON output as one `value` string column per ok line:
    read lines, run the parse operator, and serialize each row's schema
    fields as a JSON object (the type-erased `parsed` map, so one payload
    expression serves every type)."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .operators.parse import fields_col, fields_map, parse_lines

    spark = SparkSession.getActiveSession()
    assert spark is not None
    lines = (spark.read.text(input_path)
             .select(F.monotonically_increasing_id().alias("url"),
                     F.lit(0).alias("line_ordinal"),
                     F.col("value").alias("raw_line"))
             .withColumn("url", F.col("url").cast("string")))
    # strip_prefix=False: parse the RAW line, matching the reference NDJSON
    # path and this module's use_spark=False branch (lib.rs:394-463)
    parsed = fields_col(parse_lines(lines, schema, strip_prefix=False)
                        .filter(F.col("status") == "ok"))
    # map entries keep missing trailing fields as explicit nulls like the
    # reference's serde map. A tiny pandas assembler finishes the exact
    # record shape with unsigned hash64.
    json_payload = F.to_json(fields_map(schema, schema.known_types, {}))

    @F.pandas_udf(T.StringType())
    def _assemble(pj: pd.Series, raw: pd.Series, h: pd.Series) -> pd.Series:
        return pd.Series([
            '{"parsed": %s, "raw_excerpt": %s, "hash64": %d}'
            % (p, _json.dumps(r), int(hh) & 0xFFFFFFFFFFFFFFFF)
            for p, r, hh in zip(pj, raw, h)
        ], index=pj.index)

    return parsed.select(_assemble(
        json_payload, F.col("raw_excerpt"), F.col("hash64")).alias("value"))


def _ndjson_via_spark(input_path: str, output_path: str,
                      schema: CompiledSchema) -> int:
    """Distributed NDJSON: write _ndjson_frame as a single NDJSON file tree
    (output_path becomes a directory of part files — the cluster-scale
    shape of the reference's single file)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # observe() rides the write job — no second execution of the plan just
    # to learn the row count
    obs = Observation("ndjson_rows")
    out = _ndjson_frame(input_path, schema).observe(
        obs, F.count(F.lit(1)).alias("n"))
    out.write.mode("overwrite").text(output_path)
    return int(obs.get["n"])


# ---------------------------------------------------------------------------
# env preload at import (docs/env.md:7-16)
# ---------------------------------------------------------------------------

try:
    _pre = (os.getenv("LOGPARSE_PRELOAD_SCHEMA") or os.getenv("SCHEMA_JSON_PATH")
            or os.getenv("PAN_RUST_PRELOAD_SCHEMA"))
    if _pre:
        load_schema(_pre)
    _anon_pre = os.getenv("LOGPARSE_ANON_CONFIG") or os.getenv("PAN_RUST_ANON_CONFIG")
    if _anon_pre:
        load_anonymizer(_anon_pre)
except Exception:
    pass  # keep import robust, like the reference
