"""WARC source: Common-Crawl's native page format -> the pages schema
(url, warc_ts, html, text, lang).

Spark-first shape: `spark.read.format("binaryFile")` turns each WARC file
into one row (path, content); an Arrow-batched mapInPandas generator parses
the records and emits page rows. File = split granularity, which matches how
Common-Crawl ships WARCs (~1 GB files); at 10^12 docs the parallelism is
the file count (hundreds of thousands), not intra-file splits. The parser
here handles uncompressed WARC/1.0 response/resource records with exact
Content-Length framing — the container has no warcio/gzip-member tooling,
and the framing logic (not codec plumbing) is the part worth pinning.

Memory shape (the 1 GB .warc.gz case): Common-Crawl gzips each record as
its OWN gzip member precisely so readers can stream member-by-member.
iter_gzip_members decompresses one member at a time with an incremental
zlib decompressor and the page batches flush every _FLUSH_ROWS pages /
_FLUSH_BYTES of html, so peak decoded memory is O(largest member + one
output batch), NOT O(whole decompressed archive) — a ~1 GB archive
(~4-5 GB decoded) never materializes at once. The remaining hard bound is
binaryFile itself: Spark caps a binary row at 2 GB (INT_MAX), which fits
every standard ~1 GB Common-Crawl WARC; beyond that, front the read with a
split step (CC's per-member framing makes byte-range splitting possible).

Text extraction is a deterministic tag-strip heuristic (script/style blocks
dropped, tags removed, entities for &amp;/&lt;/&gt;/&quot;/&#39; decoded,
whitespace collapsed) — the place a production pipeline plugs its real
extractor; byte-identical behavior is pinned by tests so the parse ->
anonymize pipeline downstream sees stable text.
"""

from __future__ import annotations

import re
from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])

_CRLF = b"\r\n"
_SCRIPT_RE = re.compile(r"(?is)<(script|style)\b.*?</\1\s*>")
_BLOCK_RE = re.compile(
    r"(?i)<(?:br\s*/?|/(?:p|div|tr|li|h[1-6]|table|ul|ol|pre|blockquote))\s*>")
_TAG_RE = re.compile(r"(?s)<[^>]*>")
_HWS_RE = re.compile(r"[ \t\f\v]+")
# &amp; decodes LAST so escaped entities don't double-decode:
# 'a &amp;lt; b' must yield 'a &lt; b', not 'a < b'
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"),
             ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "),
             ("&amp;", "&")]


def _drain_records(data: bytes) -> Tuple[list, int]:
    """Parse complete WARC/1.0 records from the front of `data`; return
    (records, consumed_bytes). Framing: header block ends at CRLFCRLF;
    payload is exactly Content-Length bytes; records are separated by
    CRLFCRLF. A trailing INCOMPLETE record (header or body cut short) is
    left unconsumed so a streaming caller can append the next gzip member
    and retry — records are allowed to span member boundaries."""
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        start = pos
        # skip inter-record blank lines
        while data.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            return out, n
        head_end = data.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            return out, start
        head = data[pos:head_end].decode("utf-8", "replace")
        lines = head.split("\r\n")
        if not lines or not lines[0].startswith("WARC/"):
            return out, start
        headers = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        length = int(headers.get("content-length", "0"))
        body_start = head_end + 4
        if body_start + length > n:
            return out, start   # body incomplete — wait for more bytes
        out.append((headers, data[body_start:body_start + length]))
        pos = body_start + length
    return out, pos


def iter_warc_records(data: bytes) -> Iterator[Tuple[dict, bytes]]:
    """Yield (headers, payload) per complete WARC/1.0 record in an
    uncompressed WARC byte string."""
    records, _ = _drain_records(data)
    yield from records


_GZ_CHUNK = 1 << 20   # feed the decompressor 1 MiB of compressed input at a time


def iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress a (possibly multi-member) gzip byte string ONE MEMBER AT A
    TIME with an incremental zlib decompressor. Peak memory is one decoded
    member (~a page for Common-Crawl's record-per-member layout), never the
    whole decoded archive. Raises on a truncated member."""
    import zlib

    view = memoryview(data)
    pos, n = 0, len(data)
    while pos < n:
        d = zlib.decompressobj(31)   # 31 = gzip wrapper
        out = bytearray()
        while True:
            chunk = view[pos:pos + _GZ_CHUNK]
            if len(chunk) == 0:
                raise EOFError("truncated gzip member in WARC archive")
            out += d.decompress(chunk)
            if d.eof:
                pos += len(chunk) - len(d.unused_data)
                break
            pos += len(chunk)
        yield bytes(out)


def iter_warc_stream(data: bytes) -> Iterator[Tuple[dict, bytes]]:
    """Yield WARC records from raw bytes, streaming gzip members if the data
    is gzipped (magic 1f 8b). A record spanning gzip members is buffered
    across members; only the spanning record's bytes are ever held."""
    if data[:2] != b"\x1f\x8b":
        yield from iter_warc_records(data)
        return
    buf = b""
    for member in iter_gzip_members(data):
        buf = member if not buf else buf + member
        records, consumed = _drain_records(buf)
        yield from records
        buf = buf[consumed:]


def _http_body(payload: bytes) -> bytes:
    """response records wrap the page in an HTTP message; resource records
    carry it bare."""
    if payload.startswith(b"HTTP/"):
        sep = payload.find(_CRLF + _CRLF)
        if sep >= 0:
            return payload[sep + 4:]
    return payload


def extract_text(html: bytes) -> str:
    """Deterministic tag-strip text extraction, LINE-PRESERVING: block-level
    boundaries (<br>, </p>, </div>, ...) and raw newlines become line breaks
    so the downstream line-oriented parse sees one record per source line;
    horizontal whitespace collapses within a line; empty lines drop."""
    s = html.decode("utf-8", "replace")
    s = _SCRIPT_RE.sub(" ", s)
    s = _BLOCK_RE.sub("\n", s)
    s = _TAG_RE.sub(" ", s)
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    lines = (_HWS_RE.sub(" ", ln).strip() for ln in re.split(r"[\r\n]+", s))
    return "\n".join(ln for ln in lines if ln)


def _parse_ts(v: Optional[str]):
    if not v:
        return None
    try:
        return pd.Timestamp(v).tz_localize(None) \
            if pd.Timestamp(v).tzinfo is None else \
            pd.Timestamp(v).tz_convert("UTC").tz_localize(None)
    except Exception:
        return None


_FLUSH_ROWS = 2_000          # pages per emitted Arrow batch
_FLUSH_BYTES = 32 << 20      # ... or this much html payload, whichever first
LANG_UNDETERMINED = "und"    # BCP 47 "undetermined": WARC records carry no lang


def read_warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """WARC files -> pages DataFrame. Only response/resource records with a
    WARC-Target-URI become rows; metadata/request records are skipped.
    Pages stream out in bounded batches as gzip members decode (see module
    docstring for the memory shape)."""
    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = {"url": [], "warc_ts": [], "html": [], "text": [],
                "lang": []}
        pending = 0

        def flush():
            nonlocal rows, pending
            out = pd.DataFrame(rows)
            rows = {k: [] for k in rows}
            pending = 0
            return out

        for pdf in batches:
            for content in pdf["content"]:
                for headers, payload in iter_warc_stream(bytes(content)):
                    if headers.get("warc-type") not in ("response",
                                                        "resource"):
                        continue
                    url = headers.get("warc-target-uri")
                    if not url:
                        continue
                    body = _http_body(payload)
                    rows["url"].append(url)
                    rows["warc_ts"].append(_parse_ts(headers.get("warc-date")))
                    rows["html"].append(body)
                    rows["text"].append(extract_text(body))
                    rows["lang"].append(LANG_UNDETERMINED)
                    pending += len(body)
                    if len(rows["url"]) >= _FLUSH_ROWS or \
                            pending >= _FLUSH_BYTES:
                        yield flush()
        if rows["url"]:
            yield flush()

    return files.mapInPandas(parse, schema=PAGES_SCHEMA)


def write_warc(path: str, records) -> None:
    """Test/fixture helper: write (url, iso_ts, html_bytes) triples as an
    uncompressed WARC/1.0 file of response records."""
    with open(path, "wb") as f:
        for url, ts, html in records:
            http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                    + html)
            head = (f"WARC/1.0\r\n"
                    f"WARC-Type: response\r\n"
                    f"WARC-Target-URI: {url}\r\n"
                    f"WARC-Date: {ts}\r\n"
                    f"Content-Length: {len(http)}\r\n"
                    f"\r\n").encode()
            f.write(head + http + _CRLF + _CRLF)
