"""Link extraction + host-graph construction over the raw ``html`` byte
column of the pages table — the web-graph pass of a Common-Crawl-style
pipeline (anchor extraction feeds the crawl frontier; the host graph feeds
authority ranking and spam-domain discovery).

Spark-first shape: the anchor regex runs JVM-side (``regexp_extract_all``
inside whole-stage codegen) directly on the decoded binary column, so the
10^12-page scan emits only (src_host, dst_host) pairs — the html bytes
never shuffle. Host parsing uses one anchored regex shared verbatim with
the DuckDB oracles (``parse_url`` would be Spark-only semantics).

Reference scope note: the reference (rmarnold/logparse_rs) stops at line
parsing; link/web-graph work is Spark-native ground added for the
Common-Crawl target, same as the dedup/similarity families.

Input assumption — VALID UTF-8 html bytes: ``cast('string')`` decodes
invalid UTF-8 LOSSILY in Spark (replacement char) while DuckDB's
``decode()`` RAISES on it, so the two engines diverge (wrong-vs-error) on
non-UTF-8 input; real crawl html is frequently not valid UTF-8. The repo's
page fixtures are ASCII by construction, so the oracle contract holds
there. At crawl scale, either pre-filter to valid UTF-8 (``html =
encode(decode(html))`` round-trip check scan-side) or transcode upstream
(WARC charset sniffing) before this operator; anchors whose bytes survive
lossy decoding still extract correctly either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# shared verbatim between engines (RE2- and Java-compatible: no
# lookarounds, no \b)
HREF_PATTERN = r'href="([^"]+)"'
HOST_PATTERN = r"^https?://([^/]+)"
# whole-anchor matcher (group 1 = the full tag incl. inner text): the
# href and the visible text are re-extracted from the SMALL exploded
# anchor strings, so the two-group capture limit of regexp_extract_all
# never matters and the html scan stays single-pass
ANCHOR_PATTERN = r'(<a href="[^"]*">[^<]*</a>)'
ANCHOR_TEXT_PATTERN = r">([^<]*)</a>"


def extract_links(pages: DataFrame) -> DataFrame:
    """(src_url, href) pairs from every anchor in the html bytes.
    One scan-side projection + explode; no shuffle, no Python."""
    hrefs = F.regexp_extract_all(
        F.col("html").cast("string"), F.lit(HREF_PATTERN), 1)
    return (pages.select(F.col("url").alias("src_url"),
                         F.explode(hrefs).alias("href")))


def host_edges(pages: DataFrame) -> DataFrame:
    """Host-level link graph: (src_host, dst_host, n_links), hrefs that
    carry no parseable host dropped. The aggregate key space is
    |hosts|^2-bounded (and far sparser), so map-side partials collapse
    the per-page link stream before the one small shuffle."""
    links = extract_links(pages)
    src_host = F.regexp_extract(F.col("src_url"), HOST_PATTERN, 1)
    dst_host = F.regexp_extract(F.col("href"), HOST_PATTERN, 1)
    return (links.select(src_host.alias("src_host"),
                         dst_host.alias("dst_host"))
            .filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
            .groupBy("src_host", "dst_host")
            .agg(F.count("*").alias("n_links")))


def extract_anchors(pages: DataFrame) -> DataFrame:
    """(src_url, href, anchor_text) from every anchor — link extraction
    plus the VISIBLE link text, the classic off-page relevance/quality
    signal (anchor text describes the TARGET; web search engines and
    crawl-corpus curators aggregate it per destination). One scan-side
    whole-anchor explode; href and text re-extract from the small
    exploded strings, so the 10^12-page html scan stays single-pass and
    the bytes never shuffle."""
    anchors = F.regexp_extract_all(
        F.col("html").cast("string"), F.lit(ANCHOR_PATTERN), 1)
    a = (pages.select(F.col("url").alias("src_url"),
                      F.explode(anchors).alias("_a")))
    return a.select(
        "src_url",
        F.regexp_extract(F.col("_a"), HREF_PATTERN, 1).alias("href"),
        F.regexp_extract(F.col("_a"), ANCHOR_TEXT_PATTERN, 1)
        .alias("anchor_text"))


def anchor_text_terms(pages: DataFrame) -> DataFrame:
    """Per-destination-host anchor-term profile: (dst_host, term,
    n_anchors) with terms lowercased and whitespace-split. The aggregate
    key space is |hosts| x |anchor vocab|-bounded — far smaller than the
    per-page anchor stream — so map-side partials collapse it before the
    one small shuffle, same shape as host_edges."""
    from logparse_rs_spark.operators.dedup import WORD_SPLIT_CLASS
    anchors = extract_anchors(pages)
    dst_host = F.regexp_extract(F.col("href"), HOST_PATTERN, 1)
    # explicit whitespace class shared with the oracles (Java \s and RE2
    # \s disagree on \x0B — ADVICE r3)
    terms = F.explode(F.split(F.lower(F.col("anchor_text")),
                              WORD_SPLIT_CLASS))
    return (anchors.select(dst_host.alias("dst_host"),
                           terms.alias("term"))
            .filter((F.col("dst_host") != "") & (F.col("term") != ""))
            .groupBy("dst_host", "term")
            .agg(F.count("*").alias("n_anchors")))


def host_profile(pages: DataFrame) -> DataFrame:
    """Per-host crawl telemetry straight off the page scan: (host,
    n_pages, total_bytes, n_links, links_per_page_ppm) — the fetch-side
    dashboard a crawl operator watches (page volume and byte volume per
    host drive politeness budgets; link density flags boilerplate-heavy
    or spam hosts before any content analysis runs).

    Exact integers only (byte lengths, counts, ppm via integer DIV), so
    any engine reproduces the rows bit-for-bit. Scale shape: everything
    computes scan-side in codegen (octet_length on the raw binary, one
    regexp count per page) and collapses through map-side partials into
    one |hosts|-bounded aggregate — the html bytes never shuffle.
    """
    host = F.regexp_extract(F.col("url"), HOST_PATTERN, 1)
    n_links = F.size(F.regexp_extract_all(
        F.col("html").cast("string"), F.lit(HREF_PATTERN), 1))
    per_page = pages.select(
        host.alias("host"),
        F.octet_length(F.col("html")).cast("long").alias("_bytes"),
        n_links.cast("long").alias("_links"))
    return (per_page.filter(F.col("host") != "")
            .groupBy("host")
            .agg(F.count("*").alias("n_pages"),
                 F.sum("_bytes").alias("total_bytes"),
                 F.sum("_links").alias("n_links"))
            .withColumn("links_per_page_ppm",
                        F.expr("CAST(n_links * 1000000 DIV n_pages "
                               "AS BIGINT)")))
