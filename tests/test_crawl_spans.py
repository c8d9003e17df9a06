"""Crawl-frontier scheduling, longest-prefix URL policy, and
duplicated-span stats unit tests.

All three have oracle-checked queries (log_crawl_frontier,
log_url_policy, doc_duplicate_spans); these pin the properties the
aggregate oracles can't see: per-host round contiguity, host->worker
pinning, longest-match precedence at the row level, the zero-shuffle
shape of the policy operator, and span de-duplication within a doc.
"""

import pytest
from pyspark.sql import functions as F

from conftest import with_words
from logparse_rs_spark.operators.crawl import (apply_url_policy,
                                               frontier_schedule)
from logparse_rs_spark.operators.dedup import duplicate_span_stats


def _urls_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


class TestFrontierSchedule:
    def test_per_host_rounds_contiguous_and_ordered(self, spark):
        urls = [f"https://a.com/p{i}" for i in range(5)] + \
               ["https://b.com/x", "https://b.com/y"]
        out = frontier_schedule(_urls_df(spark, urls), n_workers=4).collect()
        by_host = {}
        for r in out:
            by_host.setdefault(r.host, []).append((r.fetch_round, r.url))
        for host, slots in by_host.items():
            slots.sort()
            # rounds are 0..c-1 with no gaps, assigned in url order
            assert [s[0] for s in slots] == list(range(len(slots)))
            assert [s[1] for s in slots] == sorted(s[1] for s in slots)

    def test_host_pinned_to_one_worker(self, spark):
        urls = [f"https://h{i % 3}.com/p{i}" for i in range(30)]
        out = frontier_schedule(_urls_df(spark, urls), n_workers=2).collect()
        workers_per_host = {}
        for r in out:
            workers_per_host.setdefault(r.host, set()).add(r.worker)
        assert all(len(ws) == 1 for ws in workers_per_host.values())
        assert all(0 <= r.worker < 2 for r in out)

    def test_unparseable_urls_dropped(self, spark):
        out = frontier_schedule(
            _urls_df(spark, ["https://ok.com/a", "not a url", "ftp://x/y"]),
            n_workers=4).collect()
        assert [r.url for r in out] == ["https://ok.com/a"]


class TestUrlPolicy:
    RULES = [("https://d.com/", False),
             ("https://d.com/page0", True),
             ("https://e.com/private/", False)]

    def _decide(self, spark, url):
        out = apply_url_policy(_urls_df(spark, [url]), self.RULES).collect()
        return out[0].allowed, out[0].rule_prefix

    def test_longest_match_overrides_shorter_deny(self, spark):
        assert self._decide(spark, "https://d.com/page01") == \
            (True, "https://d.com/page0")

    def test_shorter_deny_applies_elsewhere(self, spark):
        assert self._decide(spark, "https://d.com/page10") == \
            (False, "https://d.com/")

    def test_no_match_falls_back_to_default(self, spark):
        assert self._decide(spark, "https://f.com/x") == (True, None)
        out = apply_url_policy(_urls_df(spark, ["https://f.com/x"]),
                               self.RULES, default_allow=False).collect()
        assert (out[0].allowed, out[0].rule_prefix) == (False, None)

    def test_policy_adds_no_exchange(self, spark):
        """The decision is a scan-side projection: the rule list rides in
        as a literal, so the operator's plan must contain no shuffle."""
        df = apply_url_policy(_urls_df(spark, ["https://d.com/a"]),
                              self.RULES)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestDuplicateSpanStats:
    def test_shared_and_unique_spans(self, spark):
        shared = "one two three four"  # n=4 spans with n=4 -> 1 span each
        docs = spark.createDataFrame(
            [(1, shared), (2, shared), (3, "five six seven eight")],
            "doc_id long, text string")
        out = {r.doc_id: r for r in
               duplicate_span_stats(with_words(docs), n=4).collect()}
        assert out[1].n_spans == 1 and out[1].n_shared == 1
        assert out[1].shared_ppm == 1_000_000
        assert out[3].n_shared == 0 and out[3].shared_ppm == 0

    def test_short_docs_have_no_spans(self, spark):
        docs = spark.createDataFrame([(1, "too short")],
                                     "doc_id long, text string")
        assert duplicate_span_stats(with_words(docs), n=4).count() == 0

    def test_within_doc_repeats_count_once(self, spark):
        """array_distinct: a span repeated inside ONE doc is not 'shared'."""
        docs = spark.createDataFrame(
            [(1, "a b c d a b c d"), (2, "x y z w")],
            "doc_id long, text string")
        out = {r.doc_id: r for r in
               duplicate_span_stats(with_words(docs), n=4).collect()}
        # doc 1 has 5 raw spans but 'a b c d' appears twice -> 4 distinct;
        # none occur in doc 2
        assert out[1].n_spans == 4
        assert out[1].n_shared == 0


class TestUrlPolicyHosted:
    RULES = [("https://d.com/", False),
             ("https://d.com/page0", True),
             ("https://e.com/private/", False),
             ("no-host-prefix", True)]

    def _rules_df(self, spark):
        from logparse_rs_spark.operators.crawl import apply_url_policy_df
        return spark.createDataFrame(self.RULES,
                                     "prefix string, allow boolean")

    def test_row_equal_to_literal_form(self, spark):
        from logparse_rs_spark.operators.crawl import (apply_url_policy,
                                                       apply_url_policy_df)
        urls = _urls_df(spark, [
            "https://d.com/page01", "https://d.com/page10",
            "https://e.com/private/x", "https://e.com/public/y",
            "https://f.com/anything"])
        lit_rules = [r for r in self.RULES if r[0].startswith("https://")]
        a = sorted(map(tuple, apply_url_policy(
            urls, lit_rules).collect()))
        b = sorted(map(tuple, apply_url_policy_df(
            urls, self._rules_df(spark)).collect()))
        assert a == b

    def test_hostless_rule_dropped(self, spark):
        from logparse_rs_spark.operators.crawl import apply_url_policy_df
        out = apply_url_policy_df(
            _urls_df(spark, ["no-host-prefix-matchable"]),
            self._rules_df(spark)).collect()
        # the hostless rule can never match (url has no host either ->
        # no join partner) so the default applies
        assert (out[0].allowed, out[0].rule_prefix) == (True, None)

    def test_corpus_side_never_shuffles(self, spark):
        from logparse_rs_spark.operators.crawl import apply_url_policy_df
        df = apply_url_policy_df(_urls_df(spark, ["https://d.com/a"]),
                                 self._rules_df(spark))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # the only Exchange is the tiny rules-side broadcast prep; the
        # urls side reaches the join without a hash-partition exchange
        assert "Exchange hashpartitioning" not in plan.split(
            "BroadcastHashJoin")[0]


class TestShardAssignBalanced:
    def _docs(self, spark, sizes):
        return spark.createDataFrame(
            [(i, s) for i, s in enumerate(sizes)],
            "doc_id long, n_tokens long")

    def test_rank_and_snake_match_reference(self, spark):
        from logparse_rs_spark.operators.curate import shard_assign_balanced
        sizes = [5, 9, 9, 1, 7, 7, 7, 3, 2, 8]
        out = {r.doc_id: (r.rank, r.shard) for r in
               shard_assign_balanced(self._docs(spark, sizes),
                                     n_shards=3).collect()}
        # reference: global (size desc, id asc) order + snake
        order = sorted(range(len(sizes)), key=lambda i: (-sizes[i], i))
        for rank, doc in enumerate(order):
            rnd, pos = divmod(rank, 3)
            shard = pos if rnd % 2 == 0 else 2 - pos
            assert out[doc] == (rank, shard), doc

    def test_token_balance(self, spark):
        from logparse_rs_spark.operators.curate import shard_assign_balanced
        sizes = list(range(1, 101))
        out = shard_assign_balanced(self._docs(spark, sizes), n_shards=4)
        loads = {r.shard: r.load for r in
                 out.groupBy("shard")
                 .agg(F.sum("n_tokens").alias("load")).collect()}
        # snake over a uniform ramp balances to within one round's spread
        assert max(loads.values()) - min(loads.values()) <= 8

    def test_corpus_window_is_size_partitioned(self, spark):
        """The only single-partition window runs over the size HISTOGRAM;
        the corpus-sized row_number window must be partitioned by the
        size key (fails if someone 'simplifies' to one global window)."""
        from logparse_rs_spark.operators.curate import shard_assign_balanced
        df = shard_assign_balanced(self._docs(spark, [1, 2, 3]))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "row_number() windowspecdefinition(_sz" in plan


class TestCrawlDelta:
    def test_all_four_statuses(self, spark):
        from logparse_rs_spark.operators.crawl import crawl_delta
        old = spark.createDataFrame(
            [("https://a.com/1", "same"), ("https://a.com/2", "v1"),
             ("https://a.com/3", "gone")], "url string, text string")
        new = spark.createDataFrame(
            [("https://a.com/1", "same"), ("https://a.com/2", "v2"),
             ("https://a.com/4", "fresh")], "url string, text string")
        out = {r.url: r.status for r in crawl_delta(old, new).collect()}
        assert out == {"https://a.com/1": "unchanged",
                       "https://a.com/2": "changed",
                       "https://a.com/3": "removed",
                       "https://a.com/4": "added"}
        host = crawl_delta(old, new).select("host").distinct().collect()
        assert [r.host for r in host] == ["a.com"]

    def test_bodies_never_enter_the_join(self, spark):
        """Scale contract: both sides reduce to (url, 60-bit hash) before
        the full-outer shuffle — the text column must not appear in the
        join operator's output attributes."""
        from logparse_rs_spark.operators.crawl import crawl_delta
        old = spark.createDataFrame([("https://a.com/1", "x" * 10)],
                                    "url string, text string")
        df = crawl_delta(old, old)
        lines = (df._jdf.queryExecution().executedPlan().toString()
                 .splitlines())
        # every hash projection over text sits BELOW (= child of) an
        # Exchange in the printed tree: the body is reduced to 60 bits
        # before the shuffle on both sides
        md5_lines = [i for i, ln in enumerate(lines) if "md5" in ln]
        exch_lines = [i for i, ln in enumerate(lines)
                      if "Exchange hashpartitioning(url" in ln]
        assert len(md5_lines) == 2 and len(exch_lines) == 2
        assert all(any(e < m for e in exch_lines) for m in md5_lines)
        # and the join's own attribute list carries no text column
        join_line = next(ln for ln in lines if "FullOuter" in ln)
        assert "text" not in join_line


class TestTrainEvalSplit:
    def test_split_deterministic_and_near_ten_percent(self, spark):
        from logparse_rs_spark.operators.crawl import host_hash60
        ids = spark.range(0, 1000).select(
            F.col("id").cast("string").alias("k"))
        flags = ids.select(
            (F.pmod(host_hash60(F.col("k")), F.lit(100)) < 10)
            .alias("is_eval"))
        n1 = flags.filter("is_eval").count()
        n2 = flags.filter("is_eval").count()
        assert n1 == n2            # pure function of the id
        assert 60 <= n1 <= 140     # ~10% of 1000, md5-uniform


class TestParseRobots:
    BODY = "\n".join([
        "# comment only",
        "User-agent: fetchbot",
        "Disallow: /fetchbot-only/",
        "",
        "User-agent: legacybot",
        "User-agent: *",
        "disallow: /private/   # trailing comment",
        "ALLOW: /private/pub",
        "Disallow:",
        "",
        "User-agent: *",
        "Disallow: /tmp/",
    ])

    def _rules(self, spark, body=None):
        from logparse_rs_spark.operators.crawl import parse_robots
        df = spark.createDataFrame([("h.com", body or self.BODY)],
                                   "host string, body string")
        return parse_robots(df).collect()

    def test_star_groups_only_with_all_branches(self, spark):
        got = sorted((r.prefix, r.allow) for r in self._rules(spark))
        # fetchbot-only group dropped; consecutive UA lines extend the
        # star group; fields case-insensitive; comments stripped; empty
        # Disallow ignored; the second star group contributes too
        assert got == [("https://h.com/private/", False),
                       ("https://h.com/private/pub", True),
                       ("https://h.com/tmp/", False)]

    def test_rules_before_any_group_are_dropped(self, spark):
        got = self._rules(spark, "Disallow: /early/\nUser-agent: *\n"
                                 "Disallow: /ok/")
        assert [(r.prefix, r.allow) for r in got] == \
            [("https://h.com/ok/", False)]

    def test_ordinals_are_source_line_numbers(self, spark):
        got = {r.prefix: r.ordinal for r in self._rules(spark)}
        assert got["https://h.com/private/"] == 7
        assert got["https://h.com/tmp/"] == 12

    def test_composes_with_policy_apply(self, spark):
        from logparse_rs_spark.operators.crawl import (apply_url_policy_df,
                                                       parse_robots)
        robots = spark.createDataFrame([("h.com", self.BODY)],
                                       "host string, body string")
        rules = parse_robots(robots).select("prefix", "allow")
        urls = _urls_df(spark, ["https://h.com/private/x",
                                "https://h.com/private/pub/y",
                                "https://h.com/fetchbot-only/z",
                                "https://h.com/open"])
        out = {r.url: r.allowed
               for r in apply_url_policy_df(urls, rules).collect()}
        assert out == {"https://h.com/private/x": False,
                       "https://h.com/private/pub/y": True,
                       "https://h.com/fetchbot-only/z": True,
                       "https://h.com/open": True}


class TestRemoveDuplicateSpans:
    def _run(self, spark, rows, n=4):
        from logparse_rs_spark.operators.dedup import remove_duplicate_spans
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        return {r.doc_id: r for r in
                remove_duplicate_spans(with_words(docs), n=n).collect()}

    def test_shared_span_removed_unique_tail_kept(self, spark):
        shared = "alpha beta gamma delta"
        out = self._run(spark, [
            (1, f"{shared} epsilon zeta"),
            (2, f"{shared} eta theta")])
        # the 4 shared words go; each doc keeps its unique tail. The
        # spans 'beta gamma delta epsilon' etc. are unique per doc.
        assert out[1].text == "epsilon zeta" and out[1].n_removed == 4
        assert out[2].text == "eta theta" and out[2].n_removed == 4

    def test_untouched_doc_keeps_original_bytes(self, spark):
        weird = "Solo\tDoc   with ODD   spacing"
        out = self._run(spark, [(1, weird), (2, "qq ww ee rr")])
        assert out[1].text == weird and out[1].n_removed == 0

    def test_fully_covered_doc_becomes_empty(self, spark):
        t = "one two three four"
        out = self._run(spark, [(1, t), (2, t)])
        assert out[1].text == "" and out[1].n_removed == 4
        assert out[2].text == "" and out[2].n_removed == 4

    def test_overlapping_spans_count_each_word_once(self, spark):
        t = "a b c d e"   # spans 'a b c d' and 'b c d e' both shared
        out = self._run(spark, [(1, t), (2, t)])
        assert out[1].n_removed == 5   # union of covered indices, not 8


class TestFrontierPriority:
    def test_priority_reorders_within_host_only(self, spark):
        rows = [("https://a.com/low1", 1), ("https://a.com/hi", 5),
                ("https://a.com/low2", 1), ("https://b.com/x", 9)]
        df = spark.createDataFrame(rows, "url string, prio long")
        out = {r.url: r.fetch_round for r in
               frontier_schedule(df, n_workers=4,
                                 priority_col="prio").collect()}
        # high-priority url fetches first within its host; ties break by
        # url; the other host is unaffected
        assert out["https://a.com/hi"] == 0
        assert out["https://a.com/low1"] == 1
        assert out["https://a.com/low2"] == 2
        assert out["https://b.com/x"] == 0


class TestRemoveContaminatedSpans:
    def test_eval_spans_scrub_corpus_only_where_present(self, spark):
        from logparse_rs_spark.operators.dedup import (
            remove_contaminated_spans)
        bench = "q one q two q three q four"   # 8 words, n=4 -> 5 spans
        docs = spark.createDataFrame(
            [(1, f"intro words {bench} outro"),
             (2, "totally clean document here today")],
            "doc_id long, text string")
        ev = spark.createDataFrame([(100, bench)],
                                   "doc_id long, text string")
        out = {r.doc_id: r for r in
               remove_contaminated_spans(with_words(docs), with_words(ev),
                                         n=4).collect()}
        assert out[1].text == "intro words outro"
        assert out[1].n_removed == 8
        assert out[2].text == "totally clean document here today"
        assert out[2].n_removed == 0

    def test_banned_set_is_broadcast(self, spark):
        from logparse_rs_spark.operators.dedup import (
            remove_contaminated_spans)
        docs = spark.createDataFrame([(1, "a b c d e")],
                                     "doc_id long, text string")
        ev = spark.createDataFrame([(9, "a b c d")],
                                   "doc_id long, text string")
        plan = (remove_contaminated_spans(with_words(docs), with_words(ev),
                                          n=4)
                ._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


class TestParseSitemap:
    def test_entries_and_index_refs(self, spark):
        from logparse_rs_spark.operators.crawl import parse_sitemap
        body = (
            '<?xml version="1.0"?>\n<urlset>\n'
            '  <url>\n    <loc>https://a.example.com/p1</loc>\n'
            '    <lastmod>2026-03-10</lastmod>\n'
            '    <priority>0.8</priority>\n  </url>\n'
            '  <url><loc>https://a.example.com/p2</loc></url>\n'
            '  <url><loc></loc></url>\n'          # empty loc: dropped
            '</urlset>\n'
            '<sitemapindex>\n'
            '  <sitemap><loc>https://a.example.com/more.xml</loc>'
            '</sitemap>\n</sitemapindex>')
        df = spark.createDataFrame([("a.example.com", body)],
                                   "host string, body string")
        got = {(r["kind"], r["ordinal"]):
               (r["loc"], r["lastmod"], r["priority_ppm"])
               for r in parse_sitemap(df).collect()}
        assert got == {
            ("url", 1): ("https://a.example.com/p1", "2026-03-10",
                         800000),
            ("url", 2): ("https://a.example.com/p2", None, None),
            ("sitemap", 1): ("https://a.example.com/more.xml", None,
                             None),
        }

    def test_priority_is_exact_decimal_ppm(self, spark):
        from logparse_rs_spark.operators.crawl import parse_sitemap
        # 0.123456 must survive EXACTLY (DECIMAL(7,6) path, no float)
        body = ('<url><loc>https://h/x</loc>'
                '<priority>0.123456</priority></url>')
        df = spark.createDataFrame([("h", body)],
                                   "host string, body string")
        [r] = parse_sitemap(df).collect()
        assert r["priority_ppm"] == 123456

    def test_scan_side_jvm_only(self, spark):
        from logparse_rs_spark.operators.crawl import parse_sitemap
        df = spark.createDataFrame(
            [("h", "<url><loc>https://h/x</loc></url>")],
            "host string, body string")
        plan = (parse_sitemap(df)
                ._jdf.queryExecution().executedPlan().toString())
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
        assert "Join" not in plan
