"""Log, crawl and web-graph queries over the synthetic pages fixture
(FIXTURES.md §1), with their DuckDB oracles. The oracles read the
expected parse output the pure-Python reference implementation wrote, so
the DuckDB side never depends on the Spark execution path."""

from __future__ import annotations

from pyspark.sql import functions as F

from logparse_rs_spark.fixtures import DOMAINS
from logparse_rs_spark.operators.aggregates import (count_by,
                                                    count_by_log_type,
                                                    count_rows_and_errors,
                                                    first_sample_per_type,
                                                    top_k)
from logparse_rs_spark.operators.anonymize import audit_table
from logparse_rs_spark.operators.crawl import (apply_url_policy,
                                               apply_url_policy_df,
                                               crawl_delta, frontier_schedule,
                                               parse_robots, parse_sitemap)
from logparse_rs_spark.operators.curate import (filter_blocked_hosts,
                                                latest_by_key)
from logparse_rs_spark.operators.dedup import WORD_SPLIT_CLASS as WSP
from logparse_rs_spark.operators.enrich import enrich_with_lang
from logparse_rs_spark.operators.graph import (directed_edge_set,
                                               hits_integer, kcore_nodes,
                                               pagerank_integer,
                                               reciprocal_link_stats,
                                               triangle_counts,
                                               undirected_edge_set)
from logparse_rs_spark.operators.links import (anchor_text_terms, host_edges,
                                               host_profile)
from logparse_rs_spark.operators.parse import include_all_map, project_type
from logparse_rs_spark.operators.text import (PII_PATTERNS, canonical_url,
                                              pii_scrub)
from logparse_rs_spark.shared import shared

from .common import (DIMS, OracleTables, _fixture_paths, _load, _parsed,
                     _traffic)


def _url_policy_rules(domains) -> list:
    """The log_url_policy rule set, shared verbatim by the Spark query and
    the DuckDB oracle (one source of truth so the two sides can't drift):
    every 5th domain denied at the root, every 10th gets a LONGER allow
    override for its page0xxxxx urls, plus a deny/allow pair on hot-a (the
    skew domain) so longest-match precedence is exercised on real volume."""
    rules = []
    for i, d in enumerate(domains):
        if i % 5 == 0:
            rules.append((f"https://{d}/", False))
        if i % 10 == 0:
            rules.append((f"https://{d}/page0", True))
    rules.append(("https://hot-a.example.com/", False))
    rules.append(("https://hot-a.example.com/page0", True))
    return rules


def _robots_fixture(domains) -> list:
    """Deterministic (host, robots.txt body) rows, shared verbatim by the
    log_robots_rules Spark query and its DuckDB oracle. The bodies
    exercise every parser branch: comments, a named-agent-only group
    (must be ignored), consecutive User-agent lines extending one group,
    case-insensitive fields, an empty Disallow (emits no rule), and a
    second wildcard group on every third host."""
    rows = []
    for i, d in enumerate(domains):
        parts = [
            f"# robots for {d}",
            "User-agent: fetchbot",
            "Disallow: /denied-to-fetchbot/",
            "",
            "User-agent: legacybot",
            "User-agent: *",
            f"Disallow: /private{i % 5}/",
            f"Allow: /private{i % 5}/public",
            "DISALLOW:",
        ]
        if i % 3 == 0:
            parts += ["", "User-agent: *", f"Disallow: /tmp{i % 7}/"]
        rows.append((d, "\n".join(parts)))
    return rows


def _robots_probe_urls(domains) -> list:
    """Probe URLs for the robots end-to-end composition, shared by the
    Spark query and the oracle: per host one neutral page, one path under
    the host's Disallow prefix, one under the longer Allow override, and
    one under the conditional second-group Disallow — so every decision
    branch fires with host-varying outcomes."""
    urls = []
    for i, d in enumerate(domains):
        urls.append(f"https://{d}/page000001")
        urls.append(f"https://{d}/private{i % 5}/doc")
        urls.append(f"https://{d}/private{i % 5}/public/doc")
        urls.append(f"https://{d}/tmp{i % 7}/cache")
    return urls


def _sitemap_fixture(domains) -> list:
    """Deterministic (host, sitemap.xml body) rows, shared verbatim by
    the sitemap queries and their DuckDB oracles. Bodies exercise every
    parser branch: multi-line pretty-printed entries (the (?s) lazy
    block regex), a missing <lastmod>, a missing <priority> (spec
    default 0.5 applied downstream, not by the parser), and a
    sitemap-index section with child <sitemap> refs on every third
    host. Every second host also advertises one URL under its
    robots-DISALLOWED prefix and one under the longer Allow override —
    the real-world robots/sitemap conflict the lint query detects."""
    rows = []
    for i, d in enumerate(domains):
        urls = []
        for j in range(3):
            seq = (i * 37 + j * 101) % 1_000_000
            parts = [f"    <loc>https://{d}/page{seq:06d}</loc>"]
            if j != 1:
                parts.append(f"    <lastmod>2026-0{1 + (i + j) % 9}"
                             f"-1{j}</lastmod>")
            if j != 2:
                parts.append(f"    <priority>0.{(i + j) % 10}</priority>")
            urls.append("  <url>\n" + "\n".join(parts) + "\n  </url>")
        if i % 2 == 0:
            urls.append(f"  <url><loc>https://{d}/private{i % 5}/listing"
                        "</loc><priority>0.9</priority></url>")
            urls.append(f"  <url><loc>https://{d}/private{i % 5}"
                        "/public/welcome</loc></url>")
        body = ('<?xml version="1.0"?>\n<urlset>\n'
                + "\n".join(urls) + "\n</urlset>")
        if i % 3 == 0:
            body += (
                "\n<sitemapindex>\n  <sitemap>\n"
                f"    <loc>https://{d}/sitemap-news.xml</loc>\n"
                "    <lastmod>2026-05-01</lastmod>\n  </sitemap>\n"
                f"  <sitemap><loc>https://{d}/sitemap-archive.xml"
                "</loc></sitemap>\n</sitemapindex>")
        rows.append((d, body))
    return rows


def _robots_rules(spark):
    return parse_robots(spark.createDataFrame(
        _robots_fixture(DOMAINS), "host string, body string"))


def _sitemap_entries(spark):
    return parse_sitemap(spark.createDataFrame(
        _sitemap_fixture(DOMAINS), "host string, body string"))


def _pages(spark, sf_dir):
    return spark.read.parquet(_fixture_paths(sf_dir)[0])


def _host_edges(spark, sf_dir):
    # ONE html scan + anchor extraction shared by the web-graph pair
    # (log_link_hosts / log_host_pagerank) — the |hosts|^2-bounded
    # edge aggregate is tiny, so persisting it trades a few KB of
    # executor memory for a second full-corpus regexp scan
    pages_path, _ = _fixture_paths(sf_dir)
    return shared(spark, "host_edges", pages_path, lambda: host_edges(
        spark.read.parquet(pages_path).select("url", "html")).persist())


def log_route_counts(spark, sf_dir):
    return count_by_log_type(_parsed(spark, sf_dir))


def log_status_counts(spark, sf_dir):
    return (_parsed(spark, sf_dir)
            .groupBy("status").agg(F.count("*").alias("n")))


def log_action_counts(spark, sf_dir):
    return count_by(_traffic(spark, sf_dir), "action")


def log_top10_sources_anon(spark, sf_dir):
    df = _traffic(spark, sf_dir, anonymized=True)
    return top_k(df, "source_address")


def log_top10_applications(spark, sf_dir):
    return top_k(_traffic(spark, sf_dir), "application")


def log_url_hash_xor(spark, sf_dir):
    # byte-identity evidence at aggregate level: per-url XOR of all ok
    # line hashes + line count (order-insensitive, overflow-free)
    parsed = _parsed(spark, sf_dir)
    return (parsed.filter("status = 'ok'")
            .groupBy("url")
            .agg(F.count("*").alias("n_ok"),
                 F.expr("bit_xor(hash64)").alias("hash_xor")))


def log_first_sample_per_type(spark, sf_dir):
    return first_sample_per_type(_parsed(spark, sf_dir)) \
        .select("log_type", "url", "line_ordinal", "hash64")


def log_integrity_table(spark, sf_dir):
    schema, anon = _load()
    pre = project_type(_parsed(spark, sf_dir), schema, "TRAFFIC",
                       columns=DIMS)
    return audit_table(pre, anon, DIMS)


def log_enrich_lang_counts(spark, sf_dir):
    parsed = _parsed(spark, sf_dir).filter("status = 'ok'")
    return (enrich_with_lang(parsed, spark)
            .groupBy("lang_name", "lang_family")
            .agg(F.count("*").alias("n")))


def log_include_all_field3(spark, sf_dir):
    parsed = _parsed(spark, sf_dir).filter("status = 'ok'")
    m = include_all_map(parsed)
    return (parsed.withColumn("f3", m.getItem("field_3"))
            .groupBy("f3").agg(F.count("*").alias("n")))


def log_total_and_errors(spark, sf_dir):
    return count_rows_and_errors(_parsed(spark, sf_dir))


def log_pii_scrub(spark, sf_dir):
    pages = _pages(spark, sf_dir).select("url", "text")
    return pii_scrub(pages, id_col="url")


def log_url_canonicalize(spark, sf_dir):
    # url canonicalization round-trip: inject deterministic mess per
    # url (fragment / SHOUTED scheme / unsorted query / trailing
    # slash, chosen by the last path digit), canonicalize, and check
    # the mess collapses back — the n_canonical == n_urls equality is
    # the real assertion, computed identically by the oracle
    urls = _pages(spark, sf_dir).select("url").distinct()
    d = F.pmod(F.substring(F.col("url"), -1, 1).cast("int"), F.lit(4))
    messy = (F.when(d == 0, F.concat("url", F.lit("#frag")))
             .when(d == 1, F.regexp_replace(
                 "url", "^https://", "HTTPS://"))
             .when(d == 2, F.concat("url", F.lit("?b=2&a=1")))
             .otherwise(F.concat("url", F.lit("/"))))
    expected = (F.when(d == 2, F.concat("url", F.lit("?a=1&b=2")))
                .otherwise(F.col("url")))
    t = urls.select(F.col("url").alias("orig"), messy.alias("messy"),
                    expected.alias("expected"))
    t = t.withColumn("canon", canonical_url(F.col("messy")))
    return t.agg(
        F.count("*").alias("n_urls"),
        F.count_distinct("messy").alias("n_messy"),
        F.count_distinct("canon").alias("n_canonical"),
        F.sum((F.col("canon") == F.col("expected")).cast("long"))
        .alias("n_roundtrip"))


def log_top_domains(spark, sf_dir):
    # web-pipeline staple: per-host line volume + error (= non-ok
    # status, as in aggregates.count_rows_and_errors) count over the
    # parsed pages (host from the url via an RE2-and-Java-compatible
    # regex, identical string in the oracle)
    p = _parsed(spark, sf_dir)
    host = F.regexp_extract(F.col("url"), "^[a-z]+://([^/]+)", 1)
    return (p.groupBy(host.alias("host"))
            .agg(F.count("*").alias("n_lines"),
                 F.sum((F.col("status") != "ok").cast("long"))
                 .alias("n_errors"))
            .orderBy(F.desc("n_lines"), F.asc("host")).limit(20))


def log_recrawl_latest(spark, sf_dir):
    # newest-capture-per-canonical-URL (recrawl dedup): crawl groups
    # synthesized from the page number (pagenum % 100 within host),
    # winner = max warc_ts with url tie-break; ts emitted as epoch
    # micros BIGINT (timestamp-normalization-proof)
    pages = _pages(spark, sf_dir)
    host = F.regexp_extract("url", "^[a-z]+://([^/]+)", 1)
    pagenum = F.regexp_extract("url", "([0-9]{6})$", 1).cast("long")
    t = pages.select(
        F.concat_ws("#", host, (pagenum % 100).cast("string"))
        .alias("crawl_key"),
        "url", F.unix_micros("warc_ts").alias("ts_us"))
    return latest_by_key(t, ["crawl_key"], "ts_us", ["url"])


def log_blocklist_filter(spark, sf_dir):
    # host blocklist gate (broadcast anti-join; the corpus never
    # shuffles): blocklist = every 7th fixture domain (includes both
    # hot domains) — survivor volume per lang
    blocked = [d for i, d in enumerate(DOMAINS) if i % 7 == 0]
    blocked.append("hot-a.example.com")
    pages = _pages(spark, sf_dir)
    surv = filter_blocked_hosts(pages, blocked)
    return surv.groupBy("lang").agg(
        F.count("*").alias("n_pages"),
        F.count_distinct("host").alias("n_hosts"))


def log_link_hosts(spark, sf_dir):
    # web-graph extraction over the RAW html byte column: JVM-side
    # regexp_extract_all in codegen emits (src_host, dst_host) pairs
    # scan-side — the html bytes never shuffle; the aggregate key
    # space is |hosts|^2-bounded. Top-50 edges, order fully pinned.
    return (_host_edges(spark, sf_dir)
            .orderBy(F.desc("n_links"), F.asc("src_host"),
                     F.asc("dst_host"))
            .limit(50))


def log_host_pagerank(spark, sf_dir):
    # authority ranking over the REAL extracted link graph: distinct
    # undirected host edges (self-loops dropped) -> 3 rounds of exact
    # integer PageRank. Composes the links family with graph.py.
    pr = pagerank_integer(undirected_edge_set(_host_edges(spark, sf_dir)))
    return (pr.select(F.col("node").alias("host"),
                      F.col("pr").alias("pagerank"))
            .orderBy(F.desc("pagerank"), F.asc("host")).limit(20))


def log_anchor_terms(spark, sf_dir):
    # per-destination-host anchor-TEXT profile (the off-page
    # relevance signal search engines aggregate per target): one
    # whole-anchor scan-side explode of the raw html bytes; the
    # aggregate key space is |hosts| x |anchor vocab|-bounded so
    # map-side partials collapse it before the one small shuffle.
    pages = _pages(spark, sf_dir).select("url", "html")
    return (anchor_text_terms(pages)
            .orderBy(F.desc("n_anchors"), F.asc("dst_host"),
                     F.asc("term"))
            .limit(50))


def log_host_hits(spark, sf_dir):
    # HITS hubs/authorities over the REAL extracted DIRECTED host
    # graph in exact integer fixed-point (max-normalized per round,
    # scale=1e6) — PageRank's classic companion link-quality signal.
    # Reuses the session-shared host-edges frame; per round the
    # |hosts|-sized score frames shuffle, never the pages.
    out = hits_integer(directed_edge_set(_host_edges(spark, sf_dir)),
                       iterations=2)
    return (out.select(F.col("node").alias("host"), "hub", "auth")
            .orderBy(F.desc("auth"), F.desc("hub"), F.asc("host"))
            .limit(20))


def log_reciprocal_hosts(spark, sf_dir):
    # link-farm first-pass filter: per-host reciprocal-link rate in
    # exact ppm over the distinct directed host edge set (organic
    # linking is asymmetric; near-1.0 reciprocity over a large
    # out-set is the link-exchange signature). One semi self-join on
    # the reversed key — host-pair-bounded frames only.
    out = reciprocal_link_stats(_host_edges(spark, sf_dir))
    return (out.select(F.col("node").alias("host"), "n_out",
                       "n_recip", "recip_ppm")
            .orderBy(F.desc("recip_ppm"), F.desc("n_out"),
                     F.asc("host"))
            .limit(30))


def log_host_triangles(spark, sf_dir):
    # link-community density over the extracted host graph: per-host
    # triangle counts via degree-ordered wedge enumeration (the
    # celebrity-node-safe form; the triangle set is identical to the
    # naive enumeration the oracle uses). Follows up the reciprocal-
    # rate filter — link farms are near-cliques.
    out = triangle_counts(_host_edges(spark, sf_dir))
    return (out.select(F.col("node").alias("host"), "n_triangles")
            .orderBy(F.desc("n_triangles"), F.asc("host"))
            .limit(30))


def log_host_profile(spark, sf_dir):
    # per-host crawl telemetry off one page scan: page volume, byte
    # volume, link density — all exact integers, computed scan-side
    # and collapsed by map-side partials into a |hosts|-bounded agg.
    pages = _pages(spark, sf_dir).select("url", "html")
    return (host_profile(pages)
            .orderBy(F.desc("n_pages"), F.asc("host"))
            .limit(30))


def log_sitemap_entries(spark, sf_dir):
    # sitemap.xml parsing over the deterministic per-host fixture
    # (shared helper _sitemap_fixture): page entries + sitemap-index
    # child refs, priorities as exact DECIMAL-derived integer ppm.
    return _sitemap_entries(spark).orderBy("host", "kind", "ordinal")


def log_sitemap_frontier(spark, sf_dir):
    # frontier seeding COMPOSITION: sitemap page entries the crawl
    # has never fetched (left-anti join against the pages fixture's
    # url set), ranked by the host's declared priority with the spec
    # default 0.5 for entries that omit it. The sitemap side is tiny
    # and broadcast; the crawled-url set is the big side and is
    # never shuffled beyond the join.
    sm = _sitemap_entries(spark)
    crawled = _pages(spark, sf_dir).select("url")
    seeds = (sm.filter(F.col("kind") == "url")
             .join(crawled, F.col("loc") == F.col("url"),
                   "left_anti")
             .withColumn("priority_eff_ppm",
                         F.coalesce("priority_ppm",
                                    F.lit(500_000).cast("bigint"))))
    return (seeds.select("host", "loc", "lastmod",
                         "priority_eff_ppm")
            .orderBy(F.desc("priority_eff_ppm"), F.asc("host"),
                     F.asc("loc"))
            .limit(100))


def log_sitemap_robots_conflicts(spark, sf_dir):
    # crawl-config LINT composition: sitemap-advertised URLs the
    # host's own robots.txt disallows (a real crawler-ops headache —
    # the host tells the crawler to fetch what it then forbids).
    # parse_robots + parse_sitemap + the host-broadcast longest-
    # prefix policy apply; only rule/entry-sized frames move.
    rules = _robots_rules(spark).select("prefix", "allow")
    sm = _sitemap_entries(spark)
    urls = (sm.filter(F.col("kind") == "url")
            .select("host", F.col("loc").alias("url")))
    dec = apply_url_policy_df(urls, rules)
    return (dec.filter(~F.col("allowed"))
            .select("host", "url", "rule_prefix")
            .orderBy("host", "url"))


def log_host_kcore(spark, sf_dir):
    # graph-trust filter: the 3-core of the >=3-links host graph —
    # membership needs 3 neighbors that THEMSELVES survive the same
    # bar, which degree-inflating link-farm satellites fail.
    # Iterative peel, one degree agg + two semi-joins per round,
    # converges in degeneracy-depth rounds; the oracle unrolls more
    # peels than convergence needs (extra peels are no-ops).
    strong = _host_edges(spark, sf_dir).filter(F.col("n_links") >= 3)
    return (kcore_nodes(strong, k=3)
            .select(F.col("node").alias("host"), "core_degree")
            .orderBy(F.desc("core_degree"), F.asc("host")))


def log_crawl_frontier(spark, sf_dir):
    # frontier scheduling under per-host politeness: one fetch per
    # host per round, host pinned to a worker by portable md5 hash.
    # Per-worker rollup (8 rows) — makespan surfaces the hot-host
    # skew that dominates real crawl wall-clock; round_sum pins the
    # whole assignment order-sensitively.
    urls = _pages(spark, sf_dir).select("url").distinct()
    sched = frontier_schedule(urls, n_workers=8)
    return (sched.groupBy("worker")
            .agg(F.count("*").alias("n_urls"),
                 F.count_distinct("host").alias("n_hosts"),
                 (F.max("fetch_round") + 1).alias("makespan"),
                 F.sum("fetch_round").alias("round_sum"))
            .orderBy("worker"))


def _policy_by_host(decisions):
    # per-host url, allowed and rule-hit counts of a url policy decision
    host = F.regexp_extract("url", "^https?://([^/]+)", 1)
    return (decisions.groupBy(host.alias("host"))
            .agg(F.count("*").alias("n_urls"),
                 F.sum(F.col("allowed").cast("long")).alias("n_allowed"),
                 F.sum(F.col("rule_prefix").isNotNull().cast("long"))
                 .alias("n_rule_hits"))
            .orderBy("host"))


def log_url_policy(spark, sf_dir):
    # robots-style longest-prefix URL policy evaluated scan-side (the
    # rule list rides in as an array literal — zero joins). Rules:
    # every 5th domain denied at the root, every 10th gets a LONGER
    # allow override for page0xxxxx urls (exercises longest-match
    # precedence). Per-host allow/deny/rule-hit counts.
    rules = _url_policy_rules(DOMAINS)
    urls = _pages(spark, sf_dir).select("url").distinct()
    out = apply_url_policy(urls, rules, default_allow=True)
    return _policy_by_host(out)


def log_url_policy_hosted(spark, sf_dir):
    # the SAME policy decision through the at-scale path: rules as a
    # TABLE, aggregated to one array row per host and broadcast-
    # joined on host (the corpus never shuffles) — oracle identical
    # to log_url_policy, proving the two forms row-equal.
    rules_df = spark.createDataFrame(_url_policy_rules(DOMAINS),
                                     "prefix string, allow boolean")
    urls = _pages(spark, sf_dir).select("url").distinct()
    out = apply_url_policy_df(urls, rules_df)
    return _policy_by_host(out)


def _crawl_snapshots(spark, sf_dir):
    # (old, new) crawl snapshots derived from the pages fixture by page
    # number: old misses pagenum%4==0, new misses %4==1 and re-edits
    # %4==2, so added/removed/changed/unchanged are all populated
    pages = _pages(spark, sf_dir).select("url", "text")
    pn = F.pmod(F.regexp_extract("url", "([0-9]{6})$", 1).cast("long"),
                F.lit(4))
    old = pages.filter(pn != 0)
    new = (pages.filter(pn != 1)
           .withColumn("text",
                       F.when(pn == 2,
                              F.concat("text", F.lit(" rev2")))
                       .otherwise(F.col("text"))))
    return old, new


def log_crawl_delta(spark, sf_dir):
    # snapshot-over-snapshot crawl delta over _crawl_snapshots.
    # Per-(host, status) counts — the freshness report recrawl
    # scheduling reads.
    old, new = _crawl_snapshots(spark, sf_dir)
    d = crawl_delta(old, new)
    return (d.groupBy("host", "status")
            .agg(F.count("*").alias("n_urls"))
            .orderBy("host", "status"))


def log_robots_rules(spark, sf_dir):
    # robots.txt parsing at fleet scale: one deterministic body per
    # fixture host (shared helper _robots_fixture) -> (host, prefix,
    # allow, ordinal) rules for the wildcard agent only. The output
    # feeds apply_url_policy_df directly.
    return _robots_rules(spark).orderBy("host", "ordinal")


def log_frontier_recrawl(spark, sf_dir):
    # operator COMPOSITION: crawl_delta drives frontier priority —
    # changed (3) / added (2) pages fetch before unchanged (1) within
    # each host, removed pages never enter the frontier. The weighted
    # round checksum pins the per-host priority order.
    old, new = _crawl_snapshots(spark, sf_dir)
    delta = (crawl_delta(old, new)
             .filter(F.col("status") != "removed")
             .withColumn("prio",
                         F.when(F.col("status") == "changed", 3)
                         .when(F.col("status") == "added", 2)
                         .otherwise(1).cast("long")))
    sched = frontier_schedule(delta, n_workers=8, priority_col="prio")
    return (sched.join(delta.select("url", "prio"), "url")
            .groupBy("worker")
            .agg(F.count("*").alias("n_urls"),
                 (F.max("fetch_round") + 1).alias("makespan"),
                 F.sum(F.col("fetch_round") * F.col("prio"))
                 .alias("weighted_rounds"))
            .orderBy("worker"))


def log_robots_applied(spark, sf_dir):
    # the full crawl-policy pipeline end to end: robots bodies ->
    # parse_robots -> host-broadcast longest-prefix apply over probe
    # urls that exercise every decision branch (neutral page, denied
    # prefix, longer allow override, conditional second group).
    rules = _robots_rules(spark).select("prefix", "allow")
    urls = spark.createDataFrame(
        [(u,) for u in _robots_probe_urls(DOMAINS)], "url string")
    out = apply_url_policy_df(urls, rules)
    return _policy_by_host(out)


def oracle_sql(t: OracleTables) -> dict[str, str]:
    E, pages_path = t.E, t.pages_path
    # only the fields the sample anonymizer config actively transforms appear
    # in the integrity table (rule_name/source_user are NOT matched by the
    # config's 'rule'/'user' keys -> passthrough, never recorded)
    integrity_union = " UNION ALL ".join(
        f"SELECT '{d}' AS field, {d} AS original, {d}_anon AS replacement "
        f"FROM {E} WHERE status='ok' AND log_type='TRAFFIC' AND {d} IS NOT NULL"
        for d in ["source_address", "destination_address", "device_name"]
    )
    d = {
        "log_route_counts": f"""
            SELECT log_type, COUNT(*) AS n FROM {E}
            WHERE status = 'ok' GROUP BY log_type
            ORDER BY n DESC, log_type ASC
        """,
        "log_status_counts": f"""
            SELECT status, COUNT(*) AS n FROM {E} GROUP BY status
        """,
        "log_action_counts": f"""
            SELECT action, COUNT(*) AS n FROM {E}
            WHERE status = 'ok' AND log_type = 'TRAFFIC' AND action IS NOT NULL
            GROUP BY action ORDER BY n DESC, action ASC
        """,
        "log_top10_sources_anon": f"""
            SELECT source_address_anon AS source_address, COUNT(*) AS n
            FROM {E}
            WHERE status = 'ok' AND log_type = 'TRAFFIC'
              AND source_address_anon IS NOT NULL
            GROUP BY 1 ORDER BY n DESC, source_address ASC LIMIT 10
        """,
        "log_top10_applications": f"""
            SELECT application, COUNT(*) AS n FROM {E}
            WHERE status = 'ok' AND log_type = 'TRAFFIC'
              AND application IS NOT NULL
            GROUP BY 1 ORDER BY n DESC, application ASC LIMIT 10
        """,
        "log_url_hash_xor": f"""
            SELECT url, COUNT(*) AS n_ok, BIT_XOR(hash64) AS hash_xor
            FROM {E} WHERE status = 'ok' GROUP BY url
        """,
        "log_first_sample_per_type": f"""
            SELECT log_type, url, line_ordinal, hash64 FROM (
              SELECT log_type, url, line_ordinal, hash64,
                     ROW_NUMBER() OVER (PARTITION BY log_type
                                        ORDER BY url, line_ordinal) AS rn
              FROM {E} WHERE status = 'ok'
            ) WHERE rn = 1
        """,
        "log_integrity_table": f"""
            SELECT DISTINCT field, original, replacement FROM (
              {integrity_union}
            )
        """,
        "log_enrich_lang_counts": f"""
            SELECT d.lang_name, d.lang_family, COUNT(*) AS n
            FROM {E} e
            JOIN (VALUES ('en','English','germanic'),
                         ('de','German','germanic'),
                         ('fr','French','romance'),
                         ('es','Spanish','romance'),
                         ('unknown','Unknown','unknown'))
                 d(lang, lang_name, lang_family)
              ON e.lang = d.lang
            WHERE e.status = 'ok'
            GROUP BY 1, 2
        """,
        "log_include_all_field3": f"""
            SELECT log_type AS f3, COUNT(*) AS n FROM {E}
            WHERE status = 'ok' GROUP BY log_type
        """,
        "log_total_and_errors": f"""
            SELECT COUNT(*) AS total_logs,
                   SUM(CASE WHEN status <> 'ok' THEN 1 ELSE 0 END)::BIGINT
                     AS errors
            FROM {E}
        """,
    }
    # url canonicalization: identical mess injection + identical
    # canonicalization steps (RE2 replacement backrefs are \1 where
    # Spark's Java syntax is $1 — same semantics)
    d["log_url_canonicalize"] = f"""
        WITH u AS (SELECT DISTINCT url FROM {E}),
        m AS (SELECT url AS orig,
                CASE CAST(substr(url, -1) AS INT) % 4
                  WHEN 0 THEN url || '#frag'
                  WHEN 1 THEN regexp_replace(url, '^https://', 'HTTPS://')
                  WHEN 2 THEN url || '?b=2&a=1'
                  ELSE url || '/' END AS messy,
                CASE CAST(substr(url, -1) AS INT) % 4
                  WHEN 2 THEN url || '?a=1&b=2' ELSE url END AS expected
              FROM u),
        s1 AS (SELECT orig, messy, expected,
                      regexp_replace(messy, '#.*', '') AS u1 FROM m),
        s2 AS (SELECT *,
                 regexp_extract(u1,
                   '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', 0) AS pre0
               FROM s1),
        s3 AS (SELECT *,
                 regexp_replace(regexp_replace(lower(pre0),
                   '^(http://[^:]*):80$', '\\1'),
                   '^(https://[^:]*):443$', '\\1') AS pre,
                 substr(u1, length(pre0) + 1) AS rest
               FROM s2),
        s4 AS (SELECT *,
                 regexp_replace(regexp_replace(rest, '\\?.*', ''),
                                '/+$', '') AS path0,
                 regexp_extract(rest, '\\?(.*)', 1) AS query
               FROM s3),
        c AS (SELECT orig, messy, expected,
                pre || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
                    || (CASE WHEN query = '' THEN '' ELSE '?' ||
                          array_to_string(list_sort(
                            string_split(query, '&')), '&') END) AS canon
              FROM s4)
        SELECT COUNT(*) AS n_urls,
               COUNT(DISTINCT messy) AS n_messy,
               COUNT(DISTINCT canon) AS n_canonical,
               SUM((canon = expected)::BIGINT) AS n_roundtrip
        FROM c
    """
    d["log_top_domains"] = f"""
        SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
               COUNT(*) AS n_lines,
               SUM((status <> 'ok')::BIGINT) AS n_errors
        FROM {E}
        GROUP BY host ORDER BY n_lines DESC, host ASC LIMIT 20
    """
    # PII scrub oracle: patterns IMPORTED from the operator (one source of
    # truth — the regexes are written RE2-and-Java compatible) applied in
    # the same sorted-kind order over the pages fixture
    scrub_expr = "text"
    for kind in sorted(PII_PATTERNS):
        pat = PII_PATTERNS[kind].replace("'", "''")
        scrub_expr = (f"regexp_replace({scrub_expr}, '{pat}', "
                      f"'<{kind.upper()}>', 'g')")
    count_exprs = [
        f"(len(string_split(scrubbed, '<{kind.upper()}>')) - 1)::BIGINT"
        f" AS n_{kind}"
        for kind in sorted(PII_PATTERNS)
    ]
    d["log_pii_scrub"] = f"""
        WITH s AS (SELECT url, {scrub_expr} AS scrubbed
                   FROM read_parquet('{pages_path}'))
        SELECT url, {', '.join(count_exprs)},
               length(scrubbed) AS scrubbed_len
        FROM s
    """
    # frontier scheduling: per-host politeness row_number + portable md5
    # worker hash — ('0x'||hex)::BIGINT here == conv(hex,16,10) in Spark
    # (60 bits, sign-safe)
    d["log_crawl_frontier"] = f"""
        WITH u AS (SELECT DISTINCT url FROM read_parquet('{pages_path}')),
        h AS (SELECT url, regexp_extract(url, '^https?://([^/]+)', 1)
                     AS host FROM u),
        s AS (SELECT url, host,
                     CAST(('0x' || substr(md5(host), 1, 15))::BIGINT % 8
                          AS INTEGER) AS worker,
                     ROW_NUMBER() OVER (PARTITION BY host ORDER BY url) - 1
                       AS fetch_round
              FROM h WHERE host <> '')
        SELECT worker, COUNT(*) AS n_urls,
               COUNT(DISTINCT host) AS n_hosts,
               MAX(fetch_round) + 1 AS makespan,
               SUM(fetch_round)::BIGINT AS round_sum
        FROM s GROUP BY worker ORDER BY worker
    """
    # longest-prefix URL policy: rules generated by the SAME helper the
    # Spark query uses (_url_policy_rules); tie-break mirrors the Spark
    # array_max struct order (length, allow, prefix) descending
    _pol_values = ", ".join(
        f"('{p}', {'TRUE' if a else 'FALSE'})"
        for p, a in _url_policy_rules(DOMAINS))
    d["log_url_policy"] = f"""
        WITH u AS (SELECT DISTINCT url FROM read_parquet('{pages_path}')),
        r(prefix, allow) AS (SELECT * FROM (VALUES {_pol_values})),
        m AS (SELECT u.url, r.prefix, r.allow,
                     ROW_NUMBER() OVER (PARTITION BY u.url
                       ORDER BY length(r.prefix) DESC, r.allow DESC,
                                r.prefix DESC) AS rn
              FROM u LEFT JOIN r ON starts_with(u.url, r.prefix)),
        dec AS (SELECT url,
                       COALESCE(MAX(CASE WHEN rn = 1 THEN allow END),
                                TRUE) AS allowed,
                       MAX(CASE WHEN rn = 1 THEN prefix END) AS rule_prefix
                FROM m GROUP BY url)
        SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
               COUNT(*) AS n_urls,
               SUM(CASE WHEN allowed THEN 1 ELSE 0 END)::BIGINT
                 AS n_allowed,
               SUM(CASE WHEN rule_prefix IS NOT NULL THEN 1 ELSE 0
                   END)::BIGINT AS n_rule_hits
        FROM dec GROUP BY host ORDER BY host
    """
    # the hosted (broadcast rules-table) path must produce the identical
    # decision, so it shares the oracle verbatim
    d["log_url_policy_hosted"] = d["log_url_policy"]
    # crawl snapshot delta: same derivation rule, md5-60bit content hash
    # compare on both engines (the operator's scale contract — bodies
    # never shuffle). The CTE chain is shared with the prioritized
    # frontier oracle below.
    _delta_cte = f"""
        p AS (SELECT url, text,
                     CAST(regexp_extract(url, '([0-9]{{6}})$', 1)
                          AS BIGINT) % 4 AS pn
              FROM read_parquet('{pages_path}')),
        o AS (SELECT url, ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
              FROM p WHERE pn <> 0),
        n AS (SELECT url, ('0x' || substr(md5(CASE WHEN pn = 2
                              THEN text || ' rev2' ELSE text END),
                           1, 15))::BIGINT AS h
              FROM p WHERE pn <> 1),
        j AS (SELECT COALESCE(o.url, n.url) AS url, o.h AS oh, n.h AS nh
              FROM o FULL OUTER JOIN n ON o.url = n.url),
        s AS (SELECT url, CASE WHEN oh IS NULL THEN 'added'
                               WHEN nh IS NULL THEN 'removed'
                               WHEN oh <> nh THEN 'changed'
                               ELSE 'unchanged' END AS status
              FROM j)"""
    d["log_crawl_delta"] = f"""
        WITH {_delta_cte}
        SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
               status, COUNT(*) AS n_urls
        FROM s GROUP BY host, status ORDER BY host, status
    """
    # delta-prioritized frontier: recrawl scheduling where changed/added
    # pages fetch before unchanged ones within each host; the weighted
    # round checksum pins the per-host priority ORDER, not just counts
    d["log_frontier_recrawl"] = f"""
        WITH {_delta_cte},
        pr AS (SELECT url, CASE status WHEN 'changed' THEN 3
                                       WHEN 'added' THEN 2
                                       ELSE 1 END AS prio
               FROM s WHERE status <> 'removed'),
        h AS (SELECT url, prio,
                     regexp_extract(url, '^https?://([^/]+)', 1) AS host
              FROM pr),
        sc AS (SELECT url, host, prio,
                      CAST(('0x' || substr(md5(host), 1, 15))::BIGINT % 8
                           AS INTEGER) AS worker,
                      ROW_NUMBER() OVER (PARTITION BY host
                        ORDER BY prio DESC, url ASC) - 1 AS fetch_round
               FROM h WHERE host <> '')
        SELECT worker, COUNT(*) AS n_urls,
               MAX(fetch_round) + 1 AS makespan,
               SUM(fetch_round * prio)::BIGINT AS weighted_rounds
        FROM sc GROUP BY worker ORDER BY worker
    """
    # robots.txt parser: bodies from the SAME _robots_fixture helper
    # (real newlines inside the SQL literals); group/star/ordinal logic
    # replayed with lag + running-sum windows, regex classes [ \t]
    # explicit on both engines
    _rb_values = ",\n".join(
        "('" + h + "', '" + b.replace("'", "''") + "')"
        for h, b in _robots_fixture(DOMAINS))
    _sm_values = ",\n".join(
        "('" + h + "', '" + b.replace("'", "''") + "')"
        for h, b in _sitemap_fixture(DOMAINS))
    d["log_sitemap_entries"] = f"""
        WITH s(host, body) AS (VALUES {_sm_values}),
        ub AS (SELECT host,
                      unnest(regexp_extract_all(body,
                        '(?s)<url>(.*?)</url>', 1)) AS e,
                      unnest(generate_series(1, len(regexp_extract_all(
                        body, '(?s)<url>(.*?)</url>', 1)))) AS ordinal
               FROM s),
        sb AS (SELECT host,
                      unnest(regexp_extract_all(body,
                        '(?s)<sitemap>(.*?)</sitemap>', 1)) AS e,
                      unnest(generate_series(1, len(regexp_extract_all(
                        body, '(?s)<sitemap>(.*?)</sitemap>', 1))))
                        AS ordinal
               FROM s),
        x AS (SELECT host, 'url' AS kind, e, ordinal FROM ub
              UNION ALL
              SELECT host, 'sitemap' AS kind, e, ordinal FROM sb)
        SELECT host, kind,
               regexp_extract(e, '<loc>([^<]*)</loc>', 1) AS loc,
               NULLIF(regexp_extract(e,
                 '<lastmod>([^<]*)</lastmod>', 1), '') AS lastmod,
               (CAST(NULLIF(regexp_extract(e,
                  '<priority>([^<]*)</priority>', 1), '')
                  AS DECIMAL(7,6)) * 1000000)::BIGINT AS priority_ppm,
               ordinal::BIGINT AS ordinal
        FROM x WHERE regexp_extract(e, '<loc>([^<]*)</loc>', 1) <> ''
        ORDER BY host, kind, ordinal
    """
    d["log_sitemap_frontier"] = f"""
        WITH sm AS ({d["log_sitemap_entries"]}),
        c AS (SELECT url FROM read_parquet('{pages_path}'))
        SELECT host, loc, lastmod,
               COALESCE(priority_ppm, 500000)::BIGINT
                 AS priority_eff_ppm
        FROM sm
        WHERE kind = 'url'
          AND NOT EXISTS (SELECT 1 FROM c WHERE c.url = sm.loc)
        ORDER BY priority_eff_ppm DESC, host ASC, loc ASC LIMIT 100
    """
    d["log_robots_rules"] = f"""
        WITH r(host, body) AS (VALUES {_rb_values}),
        raw AS (SELECT host,
                       unnest(string_split(body, chr(10))) AS rawline,
                       unnest(generate_series(1,
                         len(string_split(body, chr(10))))) AS ordinal
                FROM r),
        l AS (SELECT host, ordinal,
                     trim(regexp_replace(regexp_replace(rawline,
                       '#.*$', ''), chr(13), '')) AS line
              FROM raw),
        f AS (SELECT host, ordinal,
                     lower(regexp_extract(line,
                           '^([A-Za-z-]+)[ \t]*:', 1)) AS fld,
                     trim(regexp_extract(line,
                           '^[A-Za-z-]+[ \t]*:[ \t]*(.*)$', 1)) AS val
              FROM l
              WHERE regexp_extract(line, '^([A-Za-z-]+)[ \t]*:', 1)
                      <> ''),
        u AS (SELECT *, CASE WHEN fld = 'user-agent' THEN 1 ELSE 0 END
                          AS ua FROM f),
        st AS (SELECT *, CASE WHEN ua = 1 AND COALESCE(
                             LAG(ua) OVER (PARTITION BY host
                                           ORDER BY ordinal), 0) = 0
                           THEN 1 ELSE 0 END AS grp_start
               FROM u),
        g AS (SELECT *, SUM(grp_start)
                          OVER (PARTITION BY host ORDER BY ordinal
                                ROWS UNBOUNDED PRECEDING) AS gid
              FROM st),
        s AS (SELECT *, MAX(CASE WHEN ua = 1 AND val = '*' THEN 1
                            ELSE 0 END)
                          OVER (PARTITION BY host, gid) AS star
              FROM g)
        SELECT host, 'https://' || host || val AS prefix,
               fld = 'allow' AS allow, ordinal
        FROM s
        WHERE star = 1 AND gid > 0 AND fld IN ('allow', 'disallow')
          AND val <> ''
        ORDER BY host, ordinal
    """
    # robots end-to-end: the parsed-rules CTE composed with the probe-url
    # longest-prefix decision (pure startswith here vs Spark's
    # host-equijoin-then-startswith — equivalent because a rule prefix
    # embeds its full host)
    _probe_values = ", ".join(
        f"('{u}')" for u in _robots_probe_urls(DOMAINS))
    d["log_robots_applied"] = f"""
        WITH rules AS ({d["log_robots_rules"]}),
        u(url) AS (VALUES {_probe_values}),
        m AS (SELECT u.url, rules.prefix, rules.allow,
                     ROW_NUMBER() OVER (PARTITION BY u.url
                       ORDER BY length(rules.prefix) DESC,
                                rules.allow DESC,
                                rules.prefix DESC) AS rn
              FROM u LEFT JOIN rules
                ON starts_with(u.url, rules.prefix)),
        dec AS (SELECT url,
                       COALESCE(MAX(CASE WHEN rn = 1 THEN allow END),
                                TRUE) AS allowed,
                       MAX(CASE WHEN rn = 1 THEN prefix END)
                         AS rule_prefix
                FROM m GROUP BY url)
        SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
               COUNT(*) AS n_urls,
               SUM(CASE WHEN allowed THEN 1 ELSE 0 END)::BIGINT
                 AS n_allowed,
               SUM(CASE WHEN rule_prefix IS NOT NULL THEN 1 ELSE 0
                   END)::BIGINT AS n_rule_hits
        FROM dec GROUP BY host ORDER BY host
    """
    d["log_recrawl_latest"] = f"""
        WITH p AS (SELECT url, epoch_us(warc_ts) AS ts_us,
                          regexp_extract(url, '^[a-z]+://([^/]+)', 1)
                            AS host,
                          CAST(regexp_extract(url, '([0-9]{{6}})$', 1)
                               AS BIGINT) AS pagenum
                   FROM read_parquet('{pages_path}'))
        SELECT concat(host, '#', (pagenum % 100)::VARCHAR) AS crawl_key,
               arg_max(url, ts_us) AS url,
               max(ts_us) AS latest_ts_us,
               COUNT(*) AS n_versions
        FROM p GROUP BY crawl_key
    """
    _blocked = [dom for i, dom in enumerate(DOMAINS) if i % 7 == 0]
    _blocked.append("hot-a.example.com")
    _blocked_sql = ", ".join(f"'{h}'" for h in sorted(set(_blocked)))
    d["log_blocklist_filter"] = f"""
        SELECT lang, COUNT(*) AS n_pages, COUNT(DISTINCT host) AS n_hosts
        FROM (SELECT lang,
                     regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host
              FROM read_parquet('{pages_path}'))
        WHERE host NOT IN ({_blocked_sql})
        GROUP BY lang
    """
    # the (url, href) rows of every anchor in the pages fixture, shared
    # by the five host-graph oracles
    link_raw = f"""raw AS (SELECT url,
                unnest(regexp_extract_all(decode(html),
                       'href="([^"]+)"', 1)) AS href
              FROM read_parquet('{pages_path}'))"""
    d["log_link_hosts"] = f"""
        WITH {link_raw},
        e AS (SELECT regexp_extract(url, '^https?://([^/]+)', 1)
                       AS src_host,
                     regexp_extract(href, '^https?://([^/]+)', 1)
                       AS dst_host
              FROM raw)
        SELECT src_host, dst_host, COUNT(*)::BIGINT AS n_links
        FROM e WHERE src_host <> '' AND dst_host <> ''
        GROUP BY src_host, dst_host
        ORDER BY n_links DESC, src_host ASC, dst_host ASC LIMIT 50
    """
    d["log_host_pagerank"] = f"""
        WITH {link_raw},
        e0 AS (SELECT regexp_extract(url, '^https?://([^/]+)', 1)
                        AS src_host,
                      regexp_extract(href, '^https?://([^/]+)', 1)
                        AS dst_host
               FROM raw),
        und AS (SELECT LEAST(src_host, dst_host) AS id_a,
                       GREATEST(src_host, dst_host) AS id_b
                FROM e0
                WHERE src_host <> '' AND dst_host <> ''
                  AND src_host <> dst_host
                GROUP BY 1, 2),
        e AS (SELECT id_a AS s, id_b AS t FROM und
              UNION ALL SELECT id_b, id_a FROM und),
        deg AS (SELECT s, COUNT(*) AS outdeg FROM e GROUP BY s),
        pr0 AS (SELECT s AS node, 1000000000000::BIGINT AS pr FROM deg),
        in1 AS (SELECT e.t AS node, SUM(pr0.pr // deg.outdeg) AS inflow
                FROM e JOIN pr0 ON e.s = pr0.node JOIN deg ON e.s = deg.s
                GROUP BY e.t),
        pr1 AS (SELECT deg.s AS node,
                       150000000000::BIGINT
                       + (COALESCE(in1.inflow, 0) * 85) // 100 AS pr
                FROM deg LEFT JOIN in1 ON deg.s = in1.node),
        in2 AS (SELECT e.t AS node, SUM(pr1.pr // deg.outdeg) AS inflow
                FROM e JOIN pr1 ON e.s = pr1.node JOIN deg ON e.s = deg.s
                GROUP BY e.t),
        pr2 AS (SELECT deg.s AS node,
                       150000000000::BIGINT
                       + (COALESCE(in2.inflow, 0) * 85) // 100 AS pr
                FROM deg LEFT JOIN in2 ON deg.s = in2.node),
        in3 AS (SELECT e.t AS node, SUM(pr2.pr // deg.outdeg) AS inflow
                FROM e JOIN pr2 ON e.s = pr2.node JOIN deg ON e.s = deg.s
                GROUP BY e.t),
        pr3 AS (SELECT deg.s AS node,
                       150000000000::BIGINT
                       + (COALESCE(in3.inflow, 0) * 85) // 100 AS pr
                FROM deg LEFT JOIN in3 ON deg.s = in3.node)
        SELECT node AS host, pr AS pagerank FROM pr3
        ORDER BY pagerank DESC, host ASC LIMIT 20
    """
    d["log_anchor_terms"] = f"""
        WITH raw AS (SELECT unnest(regexp_extract_all(decode(html),
                       '(<a href="[^"]*">[^<]*</a>)', 1)) AS a
              FROM read_parquet('{pages_path}')),
        x AS (SELECT regexp_extract(regexp_extract(a, 'href="([^"]+)"', 1),
                       '^https?://([^/]+)', 1) AS dst_host,
                     unnest(string_split_regex(
                       lower(regexp_extract(a, '>([^<]*)</a>', 1)),
                       '{WSP}')) AS term
              FROM raw)
        SELECT dst_host, term, COUNT(*)::BIGINT AS n_anchors
        FROM x WHERE dst_host <> '' AND term <> ''
        GROUP BY dst_host, term
        ORDER BY n_anchors DESC, dst_host ASC, term ASC LIMIT 50
    """
    d["log_host_hits"] = f"""
        WITH {link_raw},
        e0 AS (SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS s,
                      regexp_extract(href, '^https?://([^/]+)', 1) AS t
               FROM raw),
        e AS (SELECT s, t FROM e0
              WHERE s <> '' AND t <> '' AND s <> t GROUP BY s, t),
        nodes AS (SELECT s AS node FROM e UNION SELECT t FROM e),
        h0 AS (SELECT node, 1000000::BIGINT AS hub FROM nodes),
        a1r AS (SELECT e.t AS node, SUM(h0.hub) AS raw
                FROM e JOIN h0 ON e.s = h0.node GROUP BY e.t),
        a1 AS (SELECT n.node, COALESCE((a1r.raw * 1000000)
                     // (SELECT MAX(raw) FROM a1r), 0)::BIGINT AS auth
               FROM nodes n LEFT JOIN a1r ON n.node = a1r.node),
        h1r AS (SELECT e.s AS node, SUM(a1.auth) AS raw
                FROM e JOIN a1 ON e.t = a1.node GROUP BY e.s),
        h1 AS (SELECT n.node, COALESCE((h1r.raw * 1000000)
                     // (SELECT MAX(raw) FROM h1r), 0)::BIGINT AS hub
               FROM nodes n LEFT JOIN h1r ON n.node = h1r.node),
        a2r AS (SELECT e.t AS node, SUM(h1.hub) AS raw
                FROM e JOIN h1 ON e.s = h1.node GROUP BY e.t),
        a2 AS (SELECT n.node, COALESCE((a2r.raw * 1000000)
                     // (SELECT MAX(raw) FROM a2r), 0)::BIGINT AS auth
               FROM nodes n LEFT JOIN a2r ON n.node = a2r.node),
        h2r AS (SELECT e.s AS node, SUM(a2.auth) AS raw
                FROM e JOIN a2 ON e.t = a2.node GROUP BY e.s),
        h2 AS (SELECT n.node, COALESCE((h2r.raw * 1000000)
                     // (SELECT MAX(raw) FROM h2r), 0)::BIGINT AS hub
               FROM nodes n LEFT JOIN h2r ON n.node = h2r.node)
        SELECT h2.node AS host, h2.hub, a2.auth
        FROM h2 JOIN a2 ON h2.node = a2.node
        ORDER BY auth DESC, hub DESC, host ASC LIMIT 20
    """
    d["log_reciprocal_hosts"] = f"""
        WITH {link_raw},
        e0 AS (SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS s,
                      regexp_extract(href, '^https?://([^/]+)', 1) AS t
               FROM raw),
        e AS (SELECT s, t FROM e0
              WHERE s <> '' AND t <> '' AND s <> t GROUP BY s, t),
        o AS (SELECT s AS node, COUNT(*)::BIGINT AS n_out
              FROM e GROUP BY s),
        r AS (SELECT e.s AS node, COUNT(*)::BIGINT AS n_recip
              FROM e JOIN e e2 ON e.s = e2.t AND e.t = e2.s
              GROUP BY e.s)
        SELECT o.node AS host, o.n_out,
               COALESCE(r.n_recip, 0)::BIGINT AS n_recip,
               (COALESCE(r.n_recip, 0) * 1000000 // o.n_out)::BIGINT
                 AS recip_ppm
        FROM o LEFT JOIN r ON o.node = r.node
        ORDER BY recip_ppm DESC, n_out DESC, host ASC LIMIT 30
    """
    d["log_host_triangles"] = f"""
        WITH {link_raw},
        e0 AS (SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS s,
                      regexp_extract(href, '^https?://([^/]+)', 1) AS t
               FROM raw),
        und AS (SELECT LEAST(s, t) AS a, GREATEST(s, t) AS b FROM e0
                WHERE s <> '' AND t <> '' AND s <> t GROUP BY 1, 2),
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM und e1
                JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
                JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
        c AS (SELECT x AS node FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri)
        SELECT node AS host, COUNT(*)::BIGINT AS n_triangles
        FROM c GROUP BY node
        ORDER BY n_triangles DESC, host ASC LIMIT 30
    """
    d["log_host_profile"] = f"""
        WITH p AS (SELECT
                regexp_extract(url, '^https?://([^/]+)', 1) AS host,
                octet_length(html)::BIGINT AS b,
                len(regexp_extract_all(decode(html),
                    'href="([^"]+)"', 1))::BIGINT AS l
              FROM read_parquet('{pages_path}')),
        a AS (SELECT host, COUNT(*)::BIGINT AS n_pages,
                     SUM(b)::BIGINT AS total_bytes,
                     SUM(l)::BIGINT AS n_links
              FROM p WHERE host <> '' GROUP BY host)
        SELECT host, n_pages, total_bytes, n_links,
               (n_links * 1000000 // n_pages)::BIGINT
                 AS links_per_page_ppm
        FROM a ORDER BY n_pages DESC, host ASC LIMIT 30
    """
    # k-core: fixed-unroll peeling (8 peels — more than the fixture
    # graph's degeneracy depth needs; extra peels are no-ops once the
    # set is stable, so a converged iterative Spark run matches). The
    # peel CTE chain is GENERATED to keep the 8 copies identical.
    _kc_peels = 8
    _kc = f"""
        w0 AS (SELECT s, t
               FROM (SELECT regexp_extract(url, '^https?://([^/]+)', 1)
                              AS s,
                            regexp_extract(href, '^https?://([^/]+)', 1)
                              AS t
                     FROM (SELECT url, unnest(regexp_extract_all(
                             decode(html), 'href="([^"]+)"', 1)) AS href
                           FROM read_parquet('{pages_path}')))
               WHERE s <> '' AND t <> ''
               GROUP BY s, t HAVING COUNT(*) >= 3),
        e0 AS MATERIALIZED (SELECT LEAST(s, t) AS a,
                            GREATEST(s, t) AS b FROM w0
               WHERE s <> t GROUP BY 1, 2)"""
    for _i in range(_kc_peels):
        _kc += f""",
        d{_i} AS MATERIALIZED (SELECT n, COUNT(*) AS d FROM (
                    SELECT a AS n FROM e{_i}
                    UNION ALL SELECT b FROM e{_i}) GROUP BY n),
        a{_i} AS MATERIALIZED (SELECT n FROM d{_i} WHERE d >= 3),
        e{_i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{_i} e
                      JOIN a{_i} x ON e.a = x.n
                      JOIN a{_i} y ON e.b = y.n)"""
    d["log_host_kcore"] = f"""
        WITH {_kc},
        dfin AS (SELECT n, COUNT(*) AS d FROM (
                   SELECT a AS n FROM e{_kc_peels}
                   UNION ALL SELECT b FROM e{_kc_peels}) GROUP BY n)
        SELECT n AS host, d::BIGINT AS core_degree FROM dfin
        ORDER BY core_degree DESC, host ASC
    """
    # defined last: composes the robots-rules and sitemap-entries oracles,
    # both of which must already be in d
    d["log_sitemap_robots_conflicts"] = f"""
        WITH rules AS ({d["log_robots_rules"]}),
        sm AS ({d["log_sitemap_entries"]}),
        u AS (SELECT host, loc AS url FROM sm WHERE kind = 'url'),
        m AS (SELECT u.host, u.url, rules.prefix, rules.allow,
                     ROW_NUMBER() OVER (PARTITION BY u.url
                       ORDER BY length(rules.prefix) DESC,
                                rules.allow DESC,
                                rules.prefix DESC) AS rn
              FROM u LEFT JOIN rules
                ON starts_with(u.url, rules.prefix)),
        dec AS (SELECT host, url,
                       COALESCE(MAX(CASE WHEN rn = 1 THEN allow END),
                                TRUE) AS allowed,
                       MAX(CASE WHEN rn = 1 THEN prefix END)
                         AS rule_prefix
                FROM m GROUP BY host, url)
        SELECT host, url, rule_prefix FROM dec
        WHERE NOT allowed ORDER BY host, url
    """
    return d
