"""Spans recorded around the benchmark's calls into each layer.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from typing import Dict, List


class Tracer:
    """Records (name, start, end, parent) spans of one process; spans of one
    process share a trace id. A disabled tracer records nothing."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: List[Dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"trace": self.trace_id, "id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()


def self_times(spans: List[Dict]) -> Dict[str, float]:
    """Per span name: the summed duration minus the time its child spans
    cover (children of one span run one after another)."""
    covered: Dict[tuple, float] = {}
    for s in spans:
        if s["parent"] is not None:
            key = (s["trace"], s["parent"])
            covered[key] = covered.get(key, 0.0) + s["end"] - s["start"]
    out: Dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - covered.get((s["trace"], s["id"]), 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
