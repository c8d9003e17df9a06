"""Crawl-side scheduling operators over a URL frontier — the work-assignment
pass that sits in front of a Common-Crawl-style fetch fleet: per-host
politeness ordering (one fetch per host per round) and robots.txt-shaped
longest-prefix URL policies.

Reference scope note: the reference (rmarnold/logparse_rs) stops at line
parsing; frontier/scheduling work is Spark-native ground added for the
Common-Crawl target, same as the dedup/similarity families.

Scale shape, in one line each:

- ``frontier_schedule``: ONE host-keyed shuffle (the politeness window is
  the semantics — a host's URLs must serialize), then a worker-keyed
  rollup over already-tiny per-host output. A hot host's queue depth is
  the makespan, and the output surfaces it directly — that's the real
  bottleneck signal at crawl scale, not a plan defect.
- ``apply_url_policy``: the rule list rides into the scan as an ARRAY
  literal, so the decision is a pure scan-side projection — zero joins,
  zero shuffles, whole-stage codegen end to end. This is the right shape
  while the global policy list is small (blocklists, TLD policy, a few
  thousand patterns); per-host robots.txt at full diversity becomes a
  broadcast map join on host instead.

Hash portability: worker assignment hashes the host through md5 and takes
the first 15 hex digits as a BIGINT — identical in Spark
(``conv(substr(md5(h),1,15),16,10)``) and DuckDB
(``('0x' || substr(md5(h),1,15))::BIGINT``); 60 bits, so the cast never
touches the sign bit.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .links import HOST_PATTERN


def host_hash60(col) -> F.Column:
    """Engine-portable 60-bit hash of a string column (md5 prefix)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def frontier_schedule(urls: DataFrame, n_workers: int = 8,
                      priority_col: str | None = None) -> DataFrame:
    """Assign every frontier URL a (worker, fetch_round) slot under
    per-host politeness: a host's URLs are fetched one per round, in
    deterministic URL order, and a host is pinned to one worker (so
    politeness needs no cross-worker coordination — the standard
    host-sharded frontier design).

    Returns (url, host, worker INT, fetch_round BIGINT); fetch_round is
    0-based within the host. URLs with no parseable host are dropped
    (they cannot be scheduled politely). ``priority_col`` (BIGINT,
    higher first) reorders WITHIN each host — e.g. recrawl-delta status
    mapped to an integer so changed/added pages fetch before unchanged
    ones — with the URL as the deterministic tie-break; it cannot (and
    should not) bend the one-per-host-per-round politeness invariant.

    Plan: host extraction scan-side -> ONE shuffle on host for the
    row_number window (required by the semantics: the per-host fetch
    order IS the output) -> worker assignment is a scan-side md5, no
    second shuffle. Skew: a host with c URLs produces makespan c on its
    worker; that is the crawl-politeness reality, and the rollup query
    over this output is how you see it. The window state per host is one
    counter, so a 10^8-URL host streams through a single task without
    materializing the host's rows."""
    host = F.regexp_extract(F.col("url"), HOST_PATTERN, 1)
    cols = [F.col("url"), host.alias("host")]
    if priority_col:
        cols.append(F.col(priority_col).alias("_prio"))
    t = urls.select(*cols).filter(F.col("host") != "")
    order = ([F.desc("_prio"), F.asc("url")] if priority_col
             else [F.asc("url")])
    w = Window.partitionBy("host").orderBy(*order)
    return t.select(
        "url", "host",
        F.pmod(host_hash60(F.col("host")), F.lit(n_workers))
        .cast("int").alias("worker"),
        (F.row_number().over(w) - 1).cast("bigint").alias("fetch_round"))


def _longest_match(urls: DataFrame, rules_col: F.Column,
                   default_allow: bool) -> DataFrame:
    """urls plus (allowed, rule_prefix): the longest prefix of the
    array<struct<prefix, allow>> column ``rules_col`` that ``url`` starts
    with decides, (length, allow) max breaking ties; no match (or a null
    rule array) takes ``default_allow``."""
    matched = F.filter(rules_col,
                       lambda r: F.col("url").startswith(r["prefix"]))
    best = F.array_max(F.transform(
        matched, lambda r: F.struct(F.length(r["prefix"]).alias("l"),
                                    r["allow"].alias("allow"),
                                    r["prefix"].alias("prefix"))))
    return (urls
            .withColumn("_best", best)
            .withColumn("allowed",
                        F.coalesce(F.col("_best.allow"),
                                   F.lit(bool(default_allow))))
            .withColumn("rule_prefix", F.col("_best.prefix"))
            .drop("_best"))


def apply_url_policy(urls: DataFrame, rules: List[Tuple[str, bool]],
                     default_allow: bool = True) -> DataFrame:
    """robots.txt-shaped URL policy: the LONGEST matching prefix rule
    decides allow/deny; no match falls back to ``default_allow`` (robots
    semantics: longest-match wins, Google tie-break prefers allow — ties
    here resolve (length, allow) max, i.e. allow wins at equal length).

    ``rules`` is a plain Python list of (prefix, allow) — it compiles
    into an ARRAY<STRUCT> literal evaluated per row inside codegen, so
    the corpus never joins or shuffles; the added columns are
    (allowed BOOLEAN, rule_prefix STRING nullable).

    At 10^12 URLs this is the cheapest possible shape: the policy rides
    in the instruction stream, not the data stream. It prices well up to
    ~10^4 rules (per-row linear filter over the array); beyond that, or
    for per-host robots tables, switch to a broadcast join on host and
    keep this form for the global layer."""
    arr = F.array(*[
        F.struct(F.lit(p).alias("prefix"), F.lit(bool(a)).alias("allow"))
        for p, a in rules])
    return _longest_match(urls, arr, default_allow)


def apply_url_policy_df(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """The at-scale form of :func:`apply_url_policy` for per-host rule
    TABLES (robots.txt across the whole crawl, 10^6+ rules): ``rules`` is
    a DataFrame (prefix STRING, allow BOOLEAN). Rules aggregate to ONE
    array row per host (a tiny rules-side shuffle), broadcast, and
    equi-join the corpus on host — the corpus itself never shuffles
    (BroadcastHashJoin), and the longest-match decision then runs the
    same codegen array logic as the literal form, so the two forms are
    row-for-row identical on the same rule set.

    Decision semantics are identical to apply_url_policy: longest
    matching prefix wins, (length, allow) max tie-break, no match (or no
    rules for the host) allows. A rule whose
    prefix carries no parseable host can never match a host-joined URL
    and is dropped.

    Sizing: broadcast payload is one row per distinct rule host; robots
    rule sets are ~KBs per host, so ~10^5 hosts of rules fit a standard
    8 GB broadcast ceiling comfortably — beyond that, bucket both sides
    by host instead."""
    def _host(c) -> F.Column:
        return F.regexp_extract(c, HOST_PATTERN, 1)

    per_host = (rules
                .withColumn("_rhost", _host(F.col("prefix")))
                .filter(F.col("_rhost") != "")
                .groupBy("_rhost")
                .agg(F.collect_list(
                    F.struct(F.col("prefix"), F.col("allow"))
                ).alias("_rules")))
    j = (urls.withColumn("_uhost", _host(F.col("url")))
         .join(F.broadcast(per_host),
               F.col("_uhost") == F.col("_rhost"), "left"))
    return (_longest_match(j, F.col("_rules"), True)
            .drop("_uhost", "_rhost", "_rules"))


def crawl_delta(old_pages: DataFrame, new_pages: DataFrame) -> DataFrame:
    """Snapshot-over-snapshot crawl delta: per URL, whether it was
    ``added``, ``removed``, ``changed`` or ``unchanged`` between two crawl
    snapshots — the freshness/volatility report that drives recrawl
    scheduling (hosts that churn get revisited sooner).

    Scale shape: both snapshots reduce scan-side to (url, 60-bit content
    hash) before the one url-keyed full-outer shuffle — page bodies never
    enter the exchange, and the hash (md5 prefix, engine-portable — see
    host_hash60) makes 'changed' a fixed-width compare. A same-hash
    different-content collision (~2^-60 per pair) counts as unchanged;
    at recrawl-scheduling stakes that is the correct trade.

    Returns (url, host, status STRING)."""
    o = old_pages.select(F.col("url"),
                         host_hash60(F.col("text")).alias("_oh"))
    n = new_pages.select(F.col("url"),
                         host_hash60(F.col("text")).alias("_nh"))
    j = o.join(n, "url", "full_outer")
    status = (F.when(F.col("_oh").isNull(), F.lit("added"))
              .when(F.col("_nh").isNull(), F.lit("removed"))
              .when(F.col("_oh") != F.col("_nh"), F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    return j.select(
        "url",
        F.regexp_extract(F.col("url"), HOST_PATTERN, 1).alias("host"),
        status.alias("status"))


def parse_robots(robots: DataFrame) -> DataFrame:
    """robots.txt parser (simplified RFC 9309) — (host, body) rows in,
    (host, prefix, allow, ordinal) rules out, ready for
    :func:`apply_url_policy_df`. Honors exactly the wildcard agent:
    rules in any group whose ``User-agent`` set contains ``*`` are kept,
    named-agent-only groups are dropped. Comments (``#`` to end of
    line) strip first; blank/malformed lines are ignored; an empty
    ``Disallow:`` value (allow-everything idiom) emits no rule; field
    names are case-insensitive. ``prefix`` is absolute
    (``https://<host><path>``), ``ordinal`` is the 1-based line number
    (the provenance a policy audit wants).

    Group semantics: consecutive ``User-agent`` lines share one group (a
    UA line directly after another UA line extends it); a UA line after
    a rule line starts a new group; rules before any UA line belong to
    an implicit group that matches nothing.

    Spark shape: lines explode scan-side (posexplode over split — no
    UDF), then everything is two windows over (host, line ordinal) — a
    lag to detect group starts and a running sum to number groups — plus
    one window max to propagate the group's star flag. One host-keyed
    shuffle total; robots bodies are KB-sized per host by construction,
    so per-host partitions stay trivially small at any corpus size."""
    lines = (robots.select(
        F.col("host"),
        F.posexplode(F.split(F.col("body"), "\n"))
        .alias("_ord", "_raw")))
    clean = F.trim(F.regexp_replace(F.regexp_replace(
        F.col("_raw"), "#.*$", ""), "\r", ""))
    # explicit [ \t] classes, not \s: Java and RE2 \s disagree on \x0B,
    # and these regexes are interpolated verbatim into the DuckDB oracle
    field = F.lower(F.regexp_extract(clean, "^([A-Za-z-]+)[ \t]*:", 1))
    value = F.trim(F.regexp_extract(clean, "^[A-Za-z-]+[ \t]*:[ \t]*(.*)$",
                                    1))
    t = (lines.select("host", (F.col("_ord") + 1).alias("ordinal"),
                      field.alias("_f"), value.alias("_v"))
         .filter(F.col("_f") != ""))
    w = Window.partitionBy("host").orderBy("ordinal")
    is_ua = (F.col("_f") == "user-agent").cast("int")
    starts = ((F.col("_ua") == 1)
              & (F.coalesce(F.lag("_ua").over(w), F.lit(0)) == 0))
    g = (t.withColumn("_ua", is_ua)
         .withColumn("_gid", F.sum(starts.cast("int")).over(
             w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    wg = Window.partitionBy("host", "_gid")
    star = F.max(((F.col("_ua") == 1) & (F.col("_v") == "*")).cast("int")) \
        .over(wg)
    return (g.withColumn("_star", star)
            .filter((F.col("_star") == 1) & (F.col("_gid") > 0)
                    & F.col("_f").isin("allow", "disallow")
                    & (F.col("_v") != ""))
            .select("host",
                    F.concat(F.lit("https://"), F.col("host"),
                             F.col("_v")).alias("prefix"),
                    (F.col("_f") == "allow").alias("allow"),
                    F.col("ordinal")))


def parse_sitemap(sitemaps: DataFrame) -> DataFrame:
    """sitemap.xml parser — (host, body) rows in, one row per entry out:
    (host, kind, loc, lastmod, priority_ppm, ordinal). ``kind`` is
    ``'url'`` for page entries and ``'sitemap'`` for sitemap-index child
    references (the recursion seed a fetch fleet follows); ``lastmod``
    is the raw ISO date string (NULL when absent) and ``priority`` is
    exact integer parts-per-million via DECIMAL(7,6) — never a float, so
    engines agree bit-for-bit. Together with robots.txt this is the
    second crawl-control file: robots says where a crawler MUST NOT go,
    sitemaps say where the host WANTS it to go — frontier seeding joins
    the two.

    Simplified-XML contract (stated, like parse_robots' RFC subset): the
    well-formed <url>/<sitemap> element subset with plain-text <loc> —
    no CDATA, no entity decoding, no namespace prefixes. That covers
    machine-generated sitemaps, which is what the format is in practice.

    Spark shape: entries explode scan-side via one non-greedy (?s)
    regexp over the body (regexp_extract_all in codegen — the same lazy
    dot-all semantics in Java regex and RE2, so the oracle interpolates
    the pattern verbatim), fields re-extract from the KB-sized exploded
    blocks. Zero joins, zero UDFs; one narrow projection per entry.
    """
    def _entries(kind: str, block_pat: str) -> DataFrame:
        blocks = F.regexp_extract_all(F.col("body"),
                                      F.lit(block_pat), 1)
        e = (sitemaps.select(F.col("host").alias("host"),
                             F.posexplode(blocks).alias("_i", "_e")))
        loc = F.regexp_extract(F.col("_e"), "<loc>([^<]*)</loc>", 1)
        lastmod = F.regexp_extract(F.col("_e"),
                                   "<lastmod>([^<]*)</lastmod>", 1)
        prio = F.regexp_extract(F.col("_e"),
                                "<priority>([^<]*)</priority>", 1)
        return e.select(
            "host", F.lit(kind).alias("kind"), loc.alias("loc"),
            F.nullif(lastmod, F.lit("")).alias("lastmod"),
            (F.nullif(prio, F.lit("")).cast("decimal(7,6)")
             * 1_000_000).cast("bigint").alias("priority_ppm"),
            (F.col("_i") + 1).cast("bigint").alias("ordinal"),
        ).filter(F.col("loc") != "")

    return (_entries("url", r"(?s)<url>(.*?)</url>")
            .unionByName(_entries("sitemap",
                                  r"(?s)<sitemap>(.*?)</sitemap>")))
