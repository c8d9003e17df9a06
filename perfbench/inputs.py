"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed, so the same seed gives the
same bytes. The program under test only ever sees the files written here.

- ``pipeline``: a pages table in the ``fixtures.make_page`` mix (two hot
  domains with ~40% of pages, 60% TRAFFIC lines, 5% of TRAFFIC lines with a
  quoted field, 10% syslog-prefixed pages, ~2% malformed lines). The
  generator records each line's intended status and log type, so expected
  per-sink counts come from the generator, not from the program.
- ``queries``: the sf tables of TESTDATA.md at sf0.01 size (documents,
  embeddings, events and the TPC-H-ish star schema). Documents, embeddings
  and events come from ``tools/make_sf_scaled.py``'s generators; the
  TPC-H-ish tables are drawn here with TESTDATA.md's columns and value
  domains.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
from collections import Counter
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# sf0.01 row counts of the sf tables
SF_ROWS = {"documents": 500, "embeddings": 500, "events": 10_000,
           "event_users": 150, "customer": 1_500, "orders": 15_000,
           "lineitem": 60_000, "part": 2_000, "supplier": 100}


# ---- pages with ground truth ---------------------------------------------

def page_with_truth(seq: int, idx_map: Dict[str, int], seed: int
                    ) -> Tuple[Dict, List[Tuple[str, str, str]]]:
    """One page, byte-identical to ``fixtures.make_page(seq, idx_map, seed)``,
    plus the truth of each line: (status, log_type or "", stripped line).

    It replays make_page's random draws in the same order; the benchmark's
    tests pin the equality, so a change to make_page fails them."""
    from logparse_rs_spark import fixtures as fx

    rng = np.random.default_rng([seed, seq])
    domain = fx.DOMAINS[int(rng.choice(len(fx.DOMAINS), p=fx._DOMAIN_WEIGHTS))]
    lang = fx.LANGS[int(rng.choice(len(fx.LANGS), p=fx._LANG_WEIGHTS))]
    n_lines = int(rng.integers(1, 21))
    with_prefix = rng.random() < 0.10
    lines: List[str] = []
    truth: List[Tuple[str, str, str]] = []
    for _ in range(n_lines):
        r = rng.random()
        if r < 0.01:
            line, t = "", ("empty", "")
        elif r < 0.015:
            bogus = f"BOGUS{int(rng.integers(10))}"
            line = f"1,2025/01/01,xx,{bogus},oops,1"
            t = ("unknown_type", bogus)
        elif r < 0.02:
            line = "short,line," if rng.random() < 0.5 else "just,two"
            t = ("malformed", "")
        else:
            lt = fx.LOG_TYPES[int(rng.choice(len(fx.LOG_TYPES),
                                             p=fx._TYPE_WEIGHTS))]
            line, t = fx.make_line(rng, lt, idx_map), ("ok", lt)
        stripped = line
        if with_prefix and line:
            line = fx.SYSLOG_PREFIX.format(
                host=f"host{int(rng.integers(5))}") + line
        lines.append(line)
        truth.append((t[0], t[1], stripped))
    text = "\n".join(lines)
    n_links = int(rng.integers(0, 4))
    anchors = []
    for _ in range(n_links):
        tgt_domain = fx.DOMAINS[int(rng.choice(len(fx.DOMAINS),
                                               p=fx._DOMAIN_WEIGHTS))]
        tgt_seq = int(rng.integers(0, 1_000_000))
        nv = len(fx.ANCHOR_VOCAB)
        words = (f"{fx.ANCHOR_VOCAB[tgt_seq % nv]} "
                 f"{fx.ANCHOR_VOCAB[(tgt_seq // nv) % nv]}")
        anchors.append(f'<a href="https://{tgt_domain}/page{tgt_seq:06d}">'
                       f'{words}</a>')
    html = ("<html><body>" + "".join(anchors) + "<pre>").encode("utf-8") \
        + text.encode("utf-8") + b"</pre></body></html>"
    page = {
        "url": f"https://{domain}/page{seq:06d}",
        "warc_ts": dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
        + dt.timedelta(seconds=seq),
        "html": html,
        "text": text,
        "lang": lang,
    }
    return page, truth


class Pages:
    """A generated pages table and the truth of every line."""

    def __init__(self, n_pages: int, seed: int):
        from logparse_rs_spark import fixtures as fx

        idx_map = fx._idx_map()
        self.rows: List[Dict] = []
        self.truth: Dict[str, List[Tuple[str, str, str]]] = {}
        for seq in range(n_pages):
            page, truth = page_with_truth(seq, idx_map, seed)
            self.rows.append(page)
            self.truth[page["url"]] = truth

    def status_counts(self) -> Counter:
        return Counter(s for t in self.truth.values() for s, _, _ in t)

    def ok_counts(self) -> Counter:
        return Counter(lt for t in self.truth.values()
                       for s, lt, _ in t if s == "ok")

    def expected_sink_rows(self, sinks) -> Dict[str, int]:
        """Expected ``PipelineResult.per_sink_rows`` for the default narrow
        sinks: every sink's key maps to the ok lines of its log type."""
        ok = self.ok_counts()
        tables = Counter(s.table for s in sinks)
        out = {}
        for s in sinks:
            shared = s.payload == "map" or tables[s.table] > 1
            key = f"{s.table}/log_type={s.log_type}" if shared else s.table
            out[key] = ok.get(s.log_type, 0)
        return out

    def write(self, path: str) -> str:
        from logparse_rs_spark.fixtures import write_pages_parquet

        cols = {k: [r[k] for r in self.rows]
                for k in ("url", "warc_ts", "html", "text", "lang")}
        return write_pages_parquet(path, len(self.rows), cols=cols)


# ---- sf tables at sf0.01 -------------------------------------------------

def _sf_generators():
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import make_sf_scaled
    return make_sf_scaled


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, row_group_size=1 << 30, compression="snappy")


def _tpch(out: str, rng: np.random.Generator) -> None:
    n = SF_ROWS
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(f"{out}/region.parquet", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(regions)}))
    _write(f"{out}/nation.parquet", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}))
    nc, ns, np_, no = (n["customer"], n["supplier"], n["part"], n["orders"])
    _write(f"{out}/customer.parquet", pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], nc))}))
    _write(f"{out}/supplier.parquet", pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns),
                                       2))}))
    adjectives = ["small", "red", "large", "blue", "shiny", "green"]
    nouns = ["ring", "widget", "bolt", "gear", "panel", "valve"]
    _write(f"{out}/part.parquet", pa.table({
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array([f"{adjectives[a]} {nouns[b]}" for a, b in zip(
            rng.integers(0, 6, np_), rng.integers(0, 6, np_))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, np_)]),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                       "SMALL", "STANDARD"], np_)),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(np.round(
            900.0 + (np.arange(np_) % 1000) * 0.1, 2))}))
    day0 = np.datetime64("1995-01-01", "D")
    odate = day0 + rng.integers(0, 2404, no)
    _write(f"{out}/orders.parquet", pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            no))}))
    nl = n["lineitem"]
    okey = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(f"{out}/lineitem.parquet", pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, np_, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(
            qty * rng.uniform(900, 2100, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": pa.array((odate[okey] + rng.integers(1, 122, nl))
                               .astype("datetime64[us]"))}))


def write_sf_tables(out: str, seed: int) -> str:
    """Write the sf tables at sf0.01 size into ``out`` (idempotent)."""
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    gens = _sf_generators()
    rng = np.random.default_rng(seed)
    gens.gen_documents(out, SF_ROWS["documents"], rng)
    gens.gen_embeddings(out, SF_ROWS["embeddings"], rng)
    gens.gen_events(out, SF_ROWS["events"], SF_ROWS["event_users"], rng)
    _tpch(out, rng)
    open(done, "w").close()
    return out


def document_texts(sf_dir: str):
    """The documents' text column as a pandas Series."""
    return pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["text"]).column("text").to_pandas()
