"""Schema loading & compilation (driver-side).

Mirrors the reference's schema model (crates/logparse_core/src/schema.rs:58-115):
a JSON document mapping log types to ordered field-name lists, dispatched on
CSV index 3. Two on-disk formats are accepted:

1. The reference's format: ``{"palo_alto_syslog_fields": {"log_types":
   {<name>: {"type_value": ..., "fields": [{"name": ...} | "name", ...]}}}}``
   (field entries may be objects or bare strings, schema.rs:32-37).
2. Our compact format: ``{"log_types": {<type_value>: [raw_field_name, ...]}}``.

Field names are sanitized per schema.rs:39-56. Duplicate sanitized names keep
every position; at projection time the *last* position wins (canonical Rust
semantics, bindings/python/src/lib.rs:34-41 — SURVEY.md §8.5).

In Spark the compiled schema is a small driver-side object captured by the
parse plan (logically a broadcast join against a 10-row dimension table); the
reference's mtime-based hot reload (schema.rs:97-115) maps to re-reading the
file per micro-batch in streaming jobs.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from .kernels import sanitize_identifier


@dataclass
class CompiledSchema:
    """type_value -> ordered sanitized field names (positions preserved)."""

    path: Optional[str]
    mtime: Optional[float]
    type_to_fields: Dict[str, List[str]]
    _effective: Dict[str, List[Tuple[str, int]]] = field(default_factory=dict)

    @property
    def known_types(self) -> List[str]:
        return sorted(self.type_to_fields)

    def effective_positions(self, log_type: str) -> List[Tuple[str, int]]:
        """Deduplicated (name, position) pairs for a log type, where a name
        appearing at several positions resolves to its LAST position
        (dict-insert order semantics of the Rust path, src/lib.rs:34-41).
        Order = first-occurrence order of each name.
        """
        cached = self._effective.get(log_type)
        if cached is not None:
            return cached
        names = self.type_to_fields[log_type]
        last_pos: Dict[str, int] = {}
        order: List[str] = []
        for i, name in enumerate(names):
            if name not in last_pos:
                order.append(name)
            last_pos[name] = i
        result = [(name, last_pos[name]) for name in order]
        self._effective[log_type] = result
        return result

    def stale(self) -> bool:
        """True when the backing file changed since load (hot-reload check)."""
        if not self.path:
            return False
        try:
            return os.path.getmtime(self.path) != self.mtime
        except OSError:
            return False


def _from_reference_format(doc: dict) -> Dict[str, List[str]]:
    out: Dict[str, List[str]] = {}
    log_types = doc.get("palo_alto_syslog_fields", {}).get("log_types", {})
    for _name, type_def in log_types.items():
        raw_fields = []
        for f in type_def.get("fields", []):
            raw_fields.append(f["name"] if isinstance(f, dict) else f)
        out[type_def["type_value"]] = [sanitize_identifier(r) for r in raw_fields]
    return out


def _from_compact_format(doc: dict) -> Dict[str, List[str]]:
    return {
        type_value: [sanitize_identifier(r) for r in raw_fields]
        for type_value, raw_fields in doc["log_types"].items()
    }


def compile_schema_dict(doc: dict, path: Optional[str] = None,
                        mtime: Optional[float] = None) -> CompiledSchema:
    if "palo_alto_syslog_fields" in doc:
        mapping = _from_reference_format(doc)
    elif "log_types" in doc:
        mapping = _from_compact_format(doc)
    else:
        raise ValueError("Unrecognized schema JSON: expected "
                         "'palo_alto_syslog_fields' or 'log_types' root key")
    if not mapping:
        raise ValueError("Schema defines no log types")
    return CompiledSchema(path=path, mtime=mtime, type_to_fields=mapping)


def load_schema(path: str) -> CompiledSchema:
    with open(path, "r", encoding="utf-8") as f:
        doc = json.load(f)
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None
    return compile_schema_dict(doc, path=path, mtime=mtime)
