"""Output checks. Each failed check counts as one failed operation.

The expected values come from the generator (``inputs.Pages``), from an
FNV-1a computed here, or from DuckDB running ``oracle_sql()``, never from
the Spark side under test.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter
from typing import Dict, List, Optional

import pyarrow.dataset as ds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FNV_OFFSET = 0xCBF29CE484222325
FNV_PRIME = 0x100000001B3
MASK64 = (1 << 64) - 1


def fnv1a64(text: str) -> int:
    """Unsigned FNV-1a-64 of the UTF-8 bytes of ``text``."""
    h = FNV_OFFSET
    for b in text.encode("utf-8"):
        h = ((h ^ b) * FNV_PRIME) & MASK64
    return h


def _table(root: str, name: str) -> Optional[ds.Dataset]:
    path = os.path.join(root, name)
    if not os.path.isdir(path):
        return None
    return ds.dataset(path, format="parquet", partitioning="hive")


def written_counts(out_root: str) -> Dict[str, int]:
    """Rows per log type in the fact and map sinks, plus the reject count,
    read back from the files the pipeline wrote."""
    counts: Counter = Counter()
    for name in ("sink_fact", "sink_other"):
        d = _table(out_root, name)
        if d is None:
            continue
        col = d.to_table(columns=["log_type"]).column("log_type")
        counts.update(str(v) for v in col.to_pylist())
    rej = _table(out_root, "_rejects")
    counts["_rejects"] = rej.count_rows() if rej is not None else 0
    return dict(counts)


def check_pipeline(out_root: str, pages, result: dict, sinks,
                   sample_urls: List[str]) -> List[str]:
    """Problems found in one pipeline output; empty when correct."""
    problems = []
    expected = pages.expected_sink_rows(sinks)
    if result["per_sink_rows"] != expected:
        problems.append(f"per_sink_rows {result['per_sink_rows']} != "
                        f"{expected}")
    want = dict(pages.ok_counts())
    want["_rejects"] = sum(n for s, n in pages.status_counts().items()
                           if s != "ok")
    got = written_counts(out_root)
    if got != want:
        problems.append(f"written rows {got} != {want}")
    problems += check_line_hashes(out_root, pages, sample_urls)
    return problems


def check_line_hashes(out_root: str, pages, urls: List[str]) -> List[str]:
    """hash64 and raw_excerpt of every ok line of the sampled urls must
    match the generated line."""
    import pyarrow.compute as pc

    seen = 0
    problems = []
    for name in ("sink_fact", "sink_other"):
        d = _table(out_root, name)
        if d is None:
            continue
        tbl = d.to_table(
            columns=["url", "line_ordinal", "hash64", "raw_excerpt"],
            filter=pc.field("url").isin(urls))
        for url, ordinal, h, excerpt in zip(*(tbl.column(c).to_pylist()
                                              for c in tbl.column_names)):
            status, _, line = pages.truth[url][ordinal]
            seen += 1
            if status != "ok":
                problems.append(f"{url}#{ordinal}: routed a {status} line")
            elif (h & MASK64) != fnv1a64(line) or excerpt != line[:256]:
                problems.append(f"{url}#{ordinal}: hash64/raw_excerpt differ")
    want = sum(s == "ok" for u in urls for s, _, _ in pages.truth[u])
    if seen != want:
        problems.append(f"sampled urls: {seen} ok lines written, {want} "
                        "generated")
    return problems[:5]


# ---- queries against the DuckDB oracle ------------------------------------

def _oracle_tools():
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracle
    return check_oracle


def result_digest(rows, columns) -> dict:
    """Row count, sorted column names and the order-insensitive value hash
    of ``tools/check_oracle.py``."""
    return {"rows": len(rows), "columns": sorted(columns),
            "hash": _oracle_tools().value_hash(rows, list(columns))}


def oracle_digests(names: List[str], sf_dir: str, cache_path: str) -> dict:
    """DuckDB ``oracle_sql()`` digests for ``names``, cached in
    ``cache_path`` (one cache per seed)."""
    cached = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cached = json.load(fh)
    missing = [n for n in names if n not in cached]
    if missing:
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for table in ("region", "nation", "customer", "supplier", "part",
                          "orders", "lineitem", "events", "documents",
                          "embeddings"):
                p = os.path.join(sf_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS "
                            f"SELECT * FROM read_parquet('{p}')")
            for n in missing:
                if n not in sql:
                    cached[n] = None
                    continue
                res = con.execute(sql[n])
                rows = res.fetchall()
                cached[n] = result_digest(
                    rows, [d[0] for d in res.description])
        finally:
            con.close()
        with open(cache_path, "w") as fh:
            json.dump(cached, fh)
    return {n: cached[n] for n in names}


def compare_digest(got: dict, want: Optional[dict]) -> Optional[str]:
    """None when ``got`` matches the oracle; with no oracle, only a
    non-empty result is required."""
    if want is None:
        return None if got["rows"] > 0 else "no oracle and no rows"
    if got["rows"] != want["rows"]:
        return f"rowcount {got['rows']} != {want['rows']}"
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if got["hash"] != want["hash"]:
        return f"value hash {got['hash']} != {want['hash']}"
    return None
