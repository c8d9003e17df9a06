"""Session-shared frames and the driver-collect gate: the two decisions the
query operators make again and again, each made here once. ``shared()``
is the bounded registry of frames and broadcasts that several queries of
one Spark application reuse; ``collect_if_fits()`` pulls a frame to the
driver only when an exact size bound, checked before any bytes move, fits
``BUDGET``. Each registry hit, miss and eviction and each gate decision
logs one DEBUG record on this module's logger. README.md, "Shared frames
and the driver-collect budget", has the budget table.
"""

from __future__ import annotations

import logging
from collections import OrderedDict
from typing import Callable, Optional

from py4j.protocol import Py4JError
from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger(__name__)

# Bytes one driver collect may move — the order of an auto-broadcast join
# side. Gates read it at call time, so BUDGET = 0 forces every local and
# broadcast fast path off.
BUDGET = 64 << 20
# Candidate pairs above which the broadcast simhash emission loses to the
# JVM chunk join (dedup.simhash_candidates).
SIMHASH_MAX_PAIRS = 2_000_000
# Driver-side cost of one row of a variable-width frame beyond its payload
# (the Python object and dict slot the text gate has always charged).
ROW_OVERHEAD = 120
MAX_ENTRIES = 64

_WIDTH = {T.ByteType: 1, T.BooleanType: 1, T.ShortType: 2,
          T.IntegerType: 4, T.FloatType: 4, T.DateType: 4,
          T.LongType: 8, T.DoubleType: 8, T.TimestampType: 8,
          T.TimestampNTZType: 8}

_entries: "OrderedDict[tuple, object]" = OrderedDict()
_counts = {"hits": 0, "misses": 0, "evictions": 0}
_app: Optional[str] = None


def shared(spark, name: str, key, build: Callable[[], object]):
    """The value registered under (name, key) for this application,
    calling ``build()`` on first use."""
    global _app
    app = spark.sparkContext.applicationId
    if app != _app:
        clear()
        _app = app
    k = (name, key)
    if k in _entries:
        _entries.move_to_end(k)
        _counts["hits"] += 1
        log.debug("shared name=%s key=%s path=hit", name, key)
        return _entries[k]
    _counts["misses"] += 1
    log.debug("shared name=%s key=%s path=miss", name, key)
    value = build()
    _entries[k] = value
    while len(_entries) > MAX_ENTRIES:
        (old_name, old_key), old = _entries.popitem(last=False)
        _counts["evictions"] += 1
        log.debug("shared name=%s key=%s path=evict", old_name, old_key)
        _release(old)
    return value


def clear() -> None:
    """Drop and release every entry (a cold start)."""
    while _entries:
        _release(_entries.popitem(last=False)[1])


def stats() -> dict:
    """The live (name, key) entries, their application and the hit, miss
    and eviction counts since import."""
    return {"app": _app, "entries": list(_entries), **_counts}


def _release(value) -> None:
    # Broadcasts are unpersisted, not destroyed: a frame an operator
    # already returned may still hold one in its UDF closure, and Spark
    # re-ships an unpersisted value to the executors that use it again.
    # The entries of a stopped application have no executor memory left
    # to free; releasing them raises in the JVM.
    try:
        if isinstance(value, (DataFrame, Broadcast)):
            value.unpersist()
    except Py4JError as e:
        log.debug("shared release failed: %s", e)


def _row_width(schema: T.StructType) -> Optional[int]:
    """Bytes per row when every column is a fixed-width atom, else None."""
    widths = [_WIDTH.get(type(f.dataType)) for f in schema.fields]
    return None if None in widths else sum(widths)


def _row_bytes(field: T.StructField) -> Optional[F.Column]:
    """Exact payload bytes of one column of one row; None for a type the
    gate cannot size (a nested or decimal column)."""
    dt, c = field.dataType, F.col(field.name)
    if type(dt) in _WIDTH:
        return F.lit(_WIDTH[type(dt)])
    if isinstance(dt, (T.StringType, T.BinaryType)):
        return F.coalesce(F.octet_length(c), F.lit(0))
    if isinstance(dt, T.ArrayType) and type(dt.elementType) in _WIDTH:
        n = F.greatest(F.coalesce(F.size(c), F.lit(0)), F.lit(0))
        return n * _WIDTH[type(dt.elementType)]
    return None


def collect_if_fits(df: DataFrame, name: str,
                    row_bytes: Optional[int] = None):
    """``df`` as a ``pyarrow.Table`` when it fits ``BUDGET``, else None.

    Fixed-width frames derive a row cap from the schema, or from
    ``row_bytes`` when the caller knows what one row costs it (an array of
    known length), and fetch ``limit(cap + 1)`` through Arrow: one job,
    whose scan stops at cap + 1 rows when the frame is too big.
    Variable-width frames (strings, binaries, arrays of atoms) first run
    one exact count and sum(octet_length) job, charging ROW_OVERHEAD per
    row, and move bytes only when that total fits. A frame with a column
    the gate cannot size never fits."""
    width = row_bytes or _row_width(df.schema)
    if width:
        cap = BUDGET // width
        tbl = df.limit(cap + 1).toArrow()
        return tbl if fits(name, width * tbl.num_rows, BUDGET) else None
    cols = [_row_bytes(f) for f in df.schema.fields]
    if any(c is None for c in cols):
        log.debug("gate name=%s size=unsized budget=%d path=distributed",
                  name, BUDGET)
        return None
    n, total = df.agg(F.count(F.lit(1)), F.sum(sum(cols, F.lit(0)))).first()
    size = (total or 0) + n * ROW_OVERHEAD
    return df.toArrow() if fits(name, size, BUDGET) else None


def fits(name: str, size: int, budget: int) -> bool:
    """One gate decision: size <= budget, logged with the chosen path."""
    ok = size <= budget
    log.debug("gate name=%s size=%d budget=%d path=%s", name, size, budget,
              "local" if ok else "distributed")
    return ok
