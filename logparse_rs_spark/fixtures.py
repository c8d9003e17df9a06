"""Deterministic synthetic `pages` table + expected-output generator.

Implements FIXTURES.md §1-2: a Common-Crawl-style pages table
(url, warc_ts, html, text, lang) whose text column carries PAN-OS-style CSV
log lines (type at index 3), with Zipf-skewed hot domains, ~10% syslog-prefixed
pages, ~2% malformed lines, and a sprinkle of quoted fields. Seed-fixed
(numpy default_rng) pure Python/numpy so pytest, bench, and the driver can
rebuild identical bytes.

The companion ``expected_records`` runs the pure-Python canonical reference
implementation (refimpl) over the same pages — the oracle for "byte-identical
extracted text per url" and for routed-row/aggregate equality.
"""

from __future__ import annotations

import datetime as dt
import os
from typing import Dict, List, Optional, Tuple

import numpy as np

from .anonymizer import CompiledAnonymizer
from .refimpl import extract_page_records
from .schema import CompiledSchema

SEED = 42

# bump when make_page's generated BYTES change (the cache tag must
# invalidate previously-materialized pages/expected parquet): v2 = html
# carries deterministic outbound anchors for the link-graph operators;
# v3 = anchor inner text varies (derived from the target id, no extra
# rng draws, hrefs byte-identical to v2) for the anchor-text operators
FIXTURE_VERSION = 3

# anchor-text vocabulary: inner text is a pure function of the target
# page id so generation stays order- and size-independent (and the rng
# stream is untouched — every href keeps its exact v2 bytes)
ANCHOR_VOCAB = ["news", "weather", "sports", "shop", "deals", "login",
                "video", "music", "travel", "health", "games", "science"]

DOMAINS = [f"site{i:02d}.example.com" for i in range(48)] + [
    "hot-a.example.com",
    "hot-b.example.com",
]
# 2 hot domains own ~40% of pages
_DOMAIN_WEIGHTS = np.array([0.6 / 48] * 48 + [0.2, 0.2])

LANGS = ["en", "de", "fr", "es", "unknown"]
_LANG_WEIGHTS = np.array([0.55, 0.15, 0.12, 0.10, 0.08])

LOG_TYPES = [
    "TRAFFIC", "THREAT", "SYSTEM", "GLOBALPROTECT", "DECRYPTION",
    "SCTP", "CONFIG", "HIPMATCH", "USERID", "IPTAG",
]
_TYPE_WEIGHTS = np.array(
    [0.60, 0.20, 0.10] + [0.10 / 7] * 7
)

SRC_IPS = [f"192.168.0.{i}" for i in range(1, 21)]
DST_IPS = [f"204.232.231.{i}" for i in range(40, 56)]
USERS = ["alice", "bob", "charlie", "dora", "erin", "frank"]
APPS = ["web-browsing", "ssl", "dns", "smtp", "ftp", "ssh"]
ACTIONS = ["allow", "deny", "drop"]
RULES = [f"rule{i}" for i in range(1, 9)]
DEVICES = ["b309-fu-fw", "edge-fw-01", "core-fw-02"]
QUOTED_COUNTRIES = ['"United States, The"', '"Korea, Republic of"']

SYSLOG_PREFIX = "Oct 30 09:46:12 {host} "


def _traffic_indices(schema: CompiledSchema) -> Dict[str, int]:
    names = schema.type_to_fields["TRAFFIC"]
    # first occurrence is the CSV position we populate (these names are unique
    # in TRAFFIC; duplicates only affect future_use)
    return {n: names.index(n) for n in (
        "source_address", "destination_address", "rule_name", "source_user",
        "application", "action", "device_name",
    )}


def make_line(rng: np.random.Generator, log_type: str,
              idx_map: Dict[str, int]) -> str:
    """One CSV log line of `log_type` with pooled values at the aggregate
    dimensions; 46 base fields like the early PAN-OS exemplar."""
    # TRAFFIC lines carry 60 fields (device_name sits at position 52);
    # other types keep the 46-field early-PAN-OS shape — both are shorter
    # than the schema width so trailing positions project to null.
    n_fields = 60 if log_type == "TRAFFIC" else 46
    fields = [f"v{i}" for i in range(n_fields)]
    fields[0] = "1"
    fields[1] = "2025/01/01 00:00:00"
    fields[2] = f"{int(rng.integers(0, 99999999)):011d}"
    fields[3] = log_type
    fields[4] = "start"
    if log_type == "TRAFFIC":
        fields[idx_map["source_address"]] = SRC_IPS[int(rng.integers(len(SRC_IPS)))]
        fields[idx_map["destination_address"]] = DST_IPS[int(rng.integers(len(DST_IPS)))]
        fields[idx_map["rule_name"]] = RULES[int(rng.integers(len(RULES)))]
        fields[idx_map["source_user"]] = USERS[int(rng.integers(len(USERS)))]
        fields[idx_map["application"]] = APPS[int(rng.integers(len(APPS)))]
        fields[idx_map["action"]] = ACTIONS[int(rng.integers(len(ACTIONS)))]
        fields[idx_map["device_name"]] = DEVICES[int(rng.integers(len(DEVICES)))]
        # ~5% of TRAFFIC lines get a quoted destination-country field
        if rng.random() < 0.05:
            fields[41] = QUOTED_COUNTRIES[int(rng.integers(len(QUOTED_COUNTRIES)))]
    elif log_type == "THREAT":
        fields[idx_map["source_address"]] = SRC_IPS[int(rng.integers(len(SRC_IPS)))]
        fields[idx_map["destination_address"]] = DST_IPS[int(rng.integers(len(DST_IPS)))]
        fields[30] = ACTIONS[int(rng.integers(len(ACTIONS)))]
    return ",".join(fields)


def make_page(seq: int, idx_map: Dict[str, int], seed: int = SEED) -> Dict:
    """One deterministic page. Each page derives its own rng from
    (seed, seq), so generation is order-independent — pytest builds pages in
    a driver loop while bench builds the same bytes in parallel on Spark."""
    rng = np.random.default_rng([seed, seq])
    domain = DOMAINS[int(rng.choice(len(DOMAINS), p=_DOMAIN_WEIGHTS))]
    lang = LANGS[int(rng.choice(len(LANGS), p=_LANG_WEIGHTS))]
    n_lines = int(rng.integers(1, 21))
    with_prefix = rng.random() < 0.10
    lines: List[str] = []
    for _ in range(n_lines):
        r = rng.random()
        if r < 0.01:
            line = ""  # empty line
        elif r < 0.015:
            # malformed: unknown type token at index 3
            line = f"1,2025/01/01,xx,BOGUS{int(rng.integers(10))},oops,1"
        elif r < 0.02:
            # malformed: fewer than 4 CSV fields (type not extractable)
            line = "short,line," if rng.random() < 0.5 else "just,two"
        else:
            t = LOG_TYPES[int(rng.choice(len(LOG_TYPES), p=_TYPE_WEIGHTS))]
            line = make_line(rng, t, idx_map)
        if with_prefix and line:
            line = SYSLOG_PREFIX.format(host=f"host{int(rng.integers(5))}") + line
        lines.append(line)
    text = "\n".join(lines)
    base_ts = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    # outbound anchors (drawn LAST so every earlier field keeps its exact
    # pre-v2 bytes): 0-3 links to other fixture-shaped urls. Targets are
    # drawn from a fixed page-id space independent of corpus size, so
    # generation stays order- and size-independent — some links dangle,
    # exactly like the real web.
    n_links = int(rng.integers(0, 4))
    anchors = []
    for _ in range(n_links):
        tgt_domain = DOMAINS[int(rng.choice(len(DOMAINS),
                                            p=_DOMAIN_WEIGHTS))]
        tgt_seq = int(rng.integers(0, 1_000_000))
        nv = len(ANCHOR_VOCAB)
        text_words = (f"{ANCHOR_VOCAB[tgt_seq % nv]} "
                      f"{ANCHOR_VOCAB[(tgt_seq // nv) % nv]}")
        anchors.append(f'<a href="https://{tgt_domain}/page{tgt_seq:06d}">'
                       f'{text_words}</a>')
    html = ("<html><body>" + "".join(anchors) + "<pre>").encode("utf-8") \
        + text.encode("utf-8") + b"</pre></body></html>"
    return {
        "url": f"https://{domain}/page{seq:06d}",
        "warc_ts": base_ts + dt.timedelta(seconds=seq),
        "html": html,
        "text": text,
        "lang": lang,
    }


def _idx_map() -> Dict[str, int]:
    from .schema import load_schema
    schema = load_schema(os.path.join(os.path.dirname(__file__), "..",
                                      "schemas", "schema.json"))
    return _traffic_indices(schema)


def generate_pages(n_pages: int, seed: int = SEED) -> Dict[str, list]:
    """Columnar dict for the pages table (FIXTURES.md §1), driver-side."""
    idx_map = _idx_map()
    rows = [make_page(seq, idx_map, seed) for seq in range(n_pages)]
    return {k: [r[k] for r in rows] for k in
            ("url", "warc_ts", "html", "text", "lang")}


def write_pages_parquet_distributed(spark, path: str, n_pages: int,
                                    seed: int = SEED,
                                    partitions: Optional[int] = None) -> str:
    """Generate the identical pages table in parallel on Spark (bench scale).
    Same bytes as generate_pages because every page seeds its own rng."""
    from .sources.warc import PAGES_SCHEMA

    idx_map = _idx_map()
    parts = partitions or max(int(spark.sparkContext.defaultParallelism), 8)

    def gen(iterator):
        import pandas as pd
        for pdf in iterator:
            rows = [make_page(int(s), idx_map, seed) for s in pdf["id"]]
            yield pd.DataFrame(rows)

    (spark.range(0, n_pages, numPartitions=parts)
     .mapInPandas(gen, schema=PAGES_SCHEMA)
     .write.mode("overwrite").parquet(path))
    return path


def write_pages_parquet(path: str, n_pages: int, seed: int = SEED,
                        cols: Optional[Dict[str, list]] = None) -> str:
    """Write the pages table as a single deterministic parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if cols is None:
        cols = generate_pages(n_pages, seed=seed)
    table = pa.table({
        "url": pa.array(cols["url"], pa.string()),
        "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us", tz="UTC")),
        "html": pa.array(cols["html"], pa.binary()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def expected_records(pages: Dict[str, list], schema: CompiledSchema,
                     anon: Optional[CompiledAnonymizer] = None) -> List[dict]:
    """Run the canonical pure-Python pipeline over every page (the oracle).
    Each record also carries the page's lang (enrichment-join oracle key)."""
    out: List[dict] = []
    for url, text, lang in zip(pages["url"], pages["text"], pages["lang"]):
        recs = extract_page_records(url, text, schema, anon)
        for r in recs:
            r["lang"] = lang
        out.extend(recs)
    return out


DEFAULT_DIMS: Tuple[str, ...] = (
    "source_address", "destination_address", "rule_name", "source_user",
    "application", "action", "device_name",
)


def write_expected_parquet(path: str, pages: Dict[str, list],
                           schema: CompiledSchema,
                           anon: Optional[CompiledAnonymizer] = None,
                           dims: Tuple[str, ...] = DEFAULT_DIMS) -> str:
    """Expected-output parquet for DuckDB oracle queries: one row per input
    line with status/log_type/line/hash64, the plain aggregate dimension
    columns, and (when `anon` is given) their anonymized `{dim}_anon`
    counterparts. hash64 stored as two's-complement BIGINT to match Spark
    LongType."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    plain = expected_records(pages, schema, None)
    anon_recs = expected_records(pages, schema, anon) if anon is not None else None
    cols: Dict[str, list] = {
        "url": [], "line_ordinal": [], "status": [], "log_type": [],
        "line": [], "hash64": [], "raw_excerpt": [], "lang": [],
    }
    for d in dims:
        cols[d] = []
        if anon is not None:
            cols[d + "_anon"] = []
    for i, r in enumerate(plain):
        cols["url"].append(r["url"])
        cols["line_ordinal"].append(r["line_ordinal"])
        cols["status"].append(r["status"])
        cols["log_type"].append(r["log_type"])
        cols["line"].append(r["line"])
        h = r["hash64"]
        cols["hash64"].append(None if h is None else (h - (1 << 64) if h >= (1 << 63) else h))
        cols["raw_excerpt"].append(r["raw_excerpt"])
        cols["lang"].append(r["lang"])
        parsed = r["parsed"] or {}
        parsed_anon = (anon_recs[i]["parsed"] or {}) if anon_recs is not None else {}
        for d in dims:
            cols[d].append(parsed.get(d))
            if anon is not None:
                cols[d + "_anon"].append(parsed_anon.get(d))
    arrays = {
        "url": pa.array(cols["url"], pa.string()),
        "line_ordinal": pa.array(cols["line_ordinal"], pa.int32()),
        "status": pa.array(cols["status"], pa.string()),
        "log_type": pa.array(cols["log_type"], pa.string()),
        "line": pa.array(cols["line"], pa.string()),
        "hash64": pa.array(cols["hash64"], pa.int64()),
        "raw_excerpt": pa.array(cols["raw_excerpt"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
    }
    for d in dims:
        arrays[d] = pa.array(cols[d], pa.string())
        if anon is not None:
            arrays[d + "_anon"] = pa.array(cols[d + "_anon"], pa.string())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(arrays), path)
    return path


def ensure_fixture_pair(root: str, n_pages: int, seed: int = SEED,
                        anonymized: bool = True) -> Tuple[str, str]:
    """Idempotently materialize (pages.parquet, expected.parquet) under
    ``root`` for a given size; returns both paths. Used by __spark_entry__
    and bench so Spark and DuckDB read the same deterministic bytes."""
    from .anonymizer import load_anonymizer
    from .schema import load_schema

    here = os.path.dirname(__file__)
    # cache key includes a digest of the schema + anonymizer configs: editing
    # either must invalidate previously-materialized expected outputs, or the
    # oracle gate would silently compare against stale goldens
    import hashlib
    h = hashlib.sha256()
    for cfg in ("schemas/schema.json", "configs/anonymizer.sample.json"):
        with open(os.path.join(here, "..", cfg), "rb") as f:
            h.update(f.read())
    cfg_tag = h.hexdigest()[:8]
    tag = (f"n{n_pages}_s{seed}" + ("_anon" if anonymized else "")
           + f"_c{cfg_tag}_v{FIXTURE_VERSION}")
    pages_path = os.path.join(root, f"pages_{tag}.parquet")
    expected_path = os.path.join(root, f"expected_{tag}.parquet")
    if os.path.exists(pages_path) and os.path.exists(expected_path):
        return pages_path, expected_path
    schema = load_schema(os.path.join(here, "..", "schemas", "schema.json"))
    anon = (load_anonymizer(os.path.join(here, "..", "configs",
                                         "anonymizer.sample.json"))
            if anonymized else None)
    pages = generate_pages(n_pages, seed=seed)
    write_pages_parquet(pages_path, n_pages, seed=seed, cols=pages)
    write_expected_parquet(expected_path, pages, schema, anon)
    return pages_path, expected_path
