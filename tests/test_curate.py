"""Corpus-curation operators: boilerplate line removal, paragraph dedup,
Gopher quality rules, newest-per-key, host blocklist."""

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestRemoveFrequentLines:
    def test_removes_only_frequent_lines(self, spark):
        from logparse_rs_spark.operators.curate import remove_frequent_lines

        boiler = "subscribe now"
        rows = [(i, f"body {i}\n{boiler}\nunique tail {i}")
                for i in range(10)]
        rows.append((99, "no boiler here"))
        out = remove_frequent_lines(_docs(spark, rows), min_docs=5)
        got = {r.doc_id: r for r in out.collect()}
        assert got[0].text_clean == "body 0\nunique tail 0"
        assert got[0].n_lines == 3 and got[0].n_kept == 2
        assert got[99].text_clean == "no boiler here"
        assert got[99].n_kept == 1

    def test_df_counts_distinct_docs_not_occurrences(self, spark):
        from logparse_rs_spark.operators.curate import remove_frequent_lines

        # one doc repeats a line 10 times; df is 1, so it survives
        rows = [(1, "\n".join(["echo"] * 10)), (2, "other")]
        out = remove_frequent_lines(_docs(spark, rows), min_docs=5)
        got = {r.doc_id: r for r in out.collect()}
        assert got[1].n_kept == 10

    def test_empty_lines_survive_and_fully_removed_doc_is_empty(self, spark):
        from logparse_rs_spark.operators.curate import remove_frequent_lines

        rows = [(i, "spam line") for i in range(6)]
        rows.append((10, "a\n\nb"))
        out = remove_frequent_lines(_docs(spark, rows), min_docs=5)
        got = {r.doc_id: r for r in out.collect()}
        assert got[0].text_clean == "" and got[0].n_kept == 0
        assert got[10].text_clean == "a\n\nb"


class TestDedupParagraphs:
    def test_keep_first_occurrence(self, spark):
        from logparse_rs_spark.operators.curate import dedup_paragraphs

        rows = [(1, "shared para\nown 1"), (2, "own 2\nshared para"),
                (3, "shared para")]
        out = dedup_paragraphs(_docs(spark, rows))
        got = {r.doc_id: r for r in out.collect()}
        # (1, 0) is the smallest (doc_id, pos) for "shared para"
        assert got[1].text_clean == "shared para\nown 1"
        assert got[2].text_clean == "own 2"
        assert got[3].text_clean == "" and got[3].n_kept == 0

    def test_within_doc_repeats_collapse_to_first(self, spark):
        from logparse_rs_spark.operators.curate import dedup_paragraphs

        out = dedup_paragraphs(_docs(spark, [(1, "x\ny\nx\nx")]))
        assert out.collect()[0].text_clean == "x\ny"

    def test_distinct_line_multiset_preserved(self, spark):
        from logparse_rs_spark.operators.curate import dedup_paragraphs

        rows = [(i, f"common\nself {i}") for i in range(5)]
        out = dedup_paragraphs(_docs(spark, rows))
        kept = [l for r in out.collect() if r.text_clean
                for l in r.text_clean.split("\n")]
        # every distinct non-empty input line survives exactly once
        assert sorted(kept) == sorted(
            {"common"} | {f"self {i}" for i in range(5)})


class TestGopherQuality:
    def test_integer_rules(self, spark):
        from logparse_rs_spark.operators.curate import gopher_quality

        good = " ".join(["the", "a"] + [f"word{i:03d}" for i in range(60)])
        short = "the a tiny"
        nostop = " ".join(f"tok{i:03d}" for i in range(60))
        numeric = " ".join(["the", "a"] + ["12345"] * 60)
        out = gopher_quality(_docs(spark, [
            (1, good), (2, short), (3, nostop), (4, numeric)]))
        got = {r.doc_id: r for r in out.collect()}
        assert got[1].keep == 1
        assert got[2].keep == 0          # word count below floor
        assert got[3].keep == 0          # < 2 stopwords
        assert got[4].keep == 0          # alpha-word fraction below 80%
        assert got[1].n_words == 62 and got[1].n_stopwords == 2

    def test_symbol_ratio(self, spark):
        from logparse_rs_spark.operators.curate import gopher_quality

        hashy = " ".join(["the", "a"] + [f"w{i:04d}" for i in range(58)]) \
            + " " + "#" * 20
        out = gopher_quality(_docs(spark, [(1, hashy)]))
        r = out.collect()[0]
        assert r.n_hash == 20 and r.keep == 0


class TestGopherRepetition:
    def test_dup_lines_and_top_bigram(self, spark):
        from logparse_rs_spark.operators.curate import gopher_repetition

        rows = [
            (1, "alpha beta\ngamma delta\nalpha beta"),
            (2, "x y x y x y"),
            (3, "solo"),
        ]
        out = gopher_repetition(_docs(spark, rows))
        got = {r.doc_id: r for r in out.collect()}
        r1 = got[1]
        assert r1.n_lines == 3 and r1.n_dup_lines == 1
        assert r1.dup_line_chars == len("alpha beta")
        # bigrams of doc1: 'beta gamma' etc. each once -> smallest wins
        assert r1.top_bigram_count == 2 and r1.top_bigram == "alpha beta"
        r2 = got[2]
        assert r2.top_bigram == "x y" and r2.top_bigram_count == 3
        assert r2.n_bigrams == 5
        r3 = got[3]
        assert r3.n_bigrams == 0 and r3.top_bigram == "" \
            and r3.top_bigram_count == 0

    def test_tie_breaks_to_smallest_gram(self, spark):
        from logparse_rs_spark.operators.curate import gopher_repetition

        out = gopher_repetition(_docs(spark, [(1, "b c a b c a")]))
        r = out.collect()[0]
        # 'a b', 'b c', 'c a' counts 1/2/2 -> tie between 'b c' and 'c a'
        assert r.top_bigram == "b c" and r.top_bigram_count == 2


class TestTokenBudgetCap:
    def test_budget_respected_in_fingerprint_order(self, spark):
        from logparse_rs_spark.operators.curate import token_budget_cap

        rows = [(i, " ".join(f"w{i}x{j}" for j in range(10)), "s1")
                for i in range(10)]
        rows += [(100 + i, "tiny text", "s2") for i in range(3)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string")
        out = token_budget_cap(df, {"s1": 35}).collect()
        s1 = [r for r in out if r.source == "s1"]
        s2 = [r for r in out if r.source == "s2"]
        # 10-token docs against a 35-token budget -> exactly 3 survive
        assert len(s1) == 3
        assert max(r.running_tokens for r in s1) == 30
        # no budget + default None -> pass through untouched
        assert len(s2) == 3 and all(r.budget is None for r in s2)

    def test_survivors_are_partitioning_independent(self, spark):
        from logparse_rs_spark.operators.curate import token_budget_cap

        rows = [(i, " ".join(f"t{i}w{j}" for j in range(5)), "s")
                for i in range(20)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string")
        a = {r.doc_id for r in token_budget_cap(df, {"s": 40}).collect()}
        b = {r.doc_id for r in
             token_budget_cap(df.repartition(7), {"s": 40}).collect()}
        assert a == b and len(a) == 8


class TestLatestByKey:
    def test_newest_wins_with_tiebreak(self, spark):
        from logparse_rs_spark.operators.curate import latest_by_key

        df = spark.createDataFrame(
            [("k1", 1, "a"), ("k1", 3, "b"), ("k1", 3, "c"), ("k2", 9, "z")],
            "k string, ts long, url string")
        out = latest_by_key(df, ["k"], "ts", ["url"])
        got = {r.k: r for r in out.collect()}
        assert got["k1"].url == "c"          # ts tie -> max payload
        assert got["k1"].latest_ts == 3 and got["k1"].n_versions == 3
        assert got["k2"].url == "z" and got["k2"].n_versions == 1


class TestFilterBlockedHosts:
    def test_anti_join_and_plan_is_broadcast(self, spark):
        from logparse_rs_spark.operators.curate import filter_blocked_hosts

        pages = spark.createDataFrame(
            [("https://bad.example.com/p1", 1),
             ("https://ok.example.com/p2", 2)],
            "url string, n long")
        out = filter_blocked_hosts(pages, ["bad.example.com"])
        assert [r.url for r in out.collect()] == ["https://ok.example.com/p2"]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


class TestDsirWeights:
    def test_matches_python_replica(self, spark):
        import math
        import re

        import pandas as pd

        from logparse_rs_spark.kernels import fnv1a_series
        from logparse_rs_spark.operators.curate import dsir_weights
        from logparse_rs_spark.operators.dedup import WORD_SPLIT_CLASS

        rows = [
            (0, "alpha beta alpha gamma", "en"),
            (1, "beta beta delta", "de"),
            (2, "alpha alpha alpha", "en"),
            (3, "delta gamma delta epsilon", "de"),
            (4, "Alpha  beta\tgamma", "en"),
            (5, "", "de"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        B = 16
        got = {r.doc_id: (r.n_tokens, r.dsir_weight) for r in
               dsir_weights(df, n_buckets=B).collect()}

        split = re.compile(WORD_SPLIT_CLASS)
        toks = {i: [t for t in split.split(tx.lower()) if t]
                for i, tx, _ in rows}
        buckets = {}
        for ts in toks.values():
            for t in ts:
                if t not in buckets:
                    buckets[t] = int(
                        fnv1a_series(pd.Series([t])).view("int64")[0] % B)
        q, p = {}, {}
        for i, tx, lang in rows:
            for t in toks[i]:
                b = buckets[t]
                q[b] = q.get(b, 0) + 1
                if lang == "en":
                    p[b] = p.get(b, 0) + 1
        q_tot, p_tot = sum(q.values()), sum(p.values())
        want = {}
        for i, tx, lang in rows:
            if not toks[i]:
                continue               # empty docs emit no rows
            lws = [math.log((p.get(buckets[t], 0) + 1) / (p_tot + B))
                   - math.log((q[buckets[t]] + 1) / (q_tot + B))
                   for t in toks[i]]
            want[i] = (len(toks[i]), round(sum(lws) / len(lws), 6))
        assert set(got) == set(want)
        for i in want:
            assert got[i][0] == want[i][0]
            assert got[i][1] == pytest.approx(want[i][1], abs=2e-6)

    def test_target_heavy_doc_scores_higher(self, spark):
        from logparse_rs_spark.operators.curate import dsir_weights
        rows = ([(i, "target words only here", "en") for i in range(20)]
                + [(100 + i, "offdomain noise tokens junk", "xx")
                   for i in range(20)]
                + [(200, "target words only here", "xx"),
                   (201, "offdomain noise tokens junk", "en")])
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        w = {r.doc_id: r.dsir_weight for r in
             dsir_weights(df, n_buckets=64).collect()}
        # a doc made of target-slice tokens outweighs one made of
        # off-target tokens, regardless of its own label
        assert w[200] > w[201]
        assert w[0] > w[100]


class TestAttritionFunnel:
    def test_stage_rows_and_order(self, spark):
        from logparse_rs_spark.operators.curate import attrition_funnel
        d = spark.createDataFrame(
            [(i, "x" * (i + 1)) for i in range(6)],
            "doc_id long, text string")
        s1 = d.filter("doc_id >= 2")
        s2 = s1.filter("doc_id >= 5")
        out = attrition_funnel([("raw", d), ("a", s1), ("b", s2)]) \
            .orderBy("stage").collect()
        assert [(r.stage, r.stage_name, r.n_docs, r.total_chars)
                for r in out] == [
            (0, "raw", 6, 21), (1, "a", 4, 18), (2, "b", 1, 6)]

    def test_empty_stage_is_zero_row(self, spark):
        from logparse_rs_spark.operators.curate import attrition_funnel
        d = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        out = attrition_funnel([("raw", d), ("none", d.filter("doc_id < 0"))]) \
            .orderBy("stage").collect()
        assert (out[1].n_docs, out[1].total_chars) == (0, 0)
