"""Misra-Gries heavy hitters: superset guarantee, exactness vs the naive
plan, candidate-plan shape; and the word n-grams they count."""

import random

import pytest
from pyspark.sql import functions as F

from logparse_rs_spark.operators.sketch import (_mg_shrink,
                                                heavy_hitters_exact)
from logparse_rs_spark.operators.text import _words, word_ngrams


class TestMgShrink:
    def test_noop_under_k(self):
        acc = {"a": 3, "b": 1}
        _mg_shrink(acc, 4)
        assert acc == {"a": 3, "b": 1}

    def test_subtracts_k_plus_1th(self):
        acc = {"a": 5, "b": 3, "c": 2, "d": 1}
        _mg_shrink(acc, 2)  # cut = 3rd largest = 2
        assert acc == {"a": 3, "b": 1}

    def test_can_empty_on_all_equal(self):
        acc = {"a": 2, "b": 2, "c": 2}
        _mg_shrink(acc, 2)
        assert acc == {}


class TestHeavyHittersExact:
    def _run(self, spark, values, den, counters=None, parts=4):
        df = spark.createDataFrame([(v,) for v in values], "item string") \
            .repartition(parts)
        out = heavy_hitters_exact(df, "item", den, counters=counters)
        return {r["item"]: r["n"] for r in out.collect()}

    def _exact(self, values, den):
        from collections import Counter
        n = len(values)
        return {k: c for k, c in Counter(values).items() if c * den > n}

    def test_matches_exact_zipf(self, spark):
        rng = random.Random(7)
        vals = [f"w{min(int(rng.paretovariate(1.1)), 50)}"
                for _ in range(5000)]
        for den in (10, 50):
            assert self._run(spark, vals, den) == self._exact(vals, den)

    def test_matches_exact_uniform_no_hitters(self, spark):
        rng = random.Random(3)
        vals = [f"u{rng.randrange(400)}" for _ in range(2000)]
        # nothing exceeds 1/20 of the stream -> empty, and MG must not
        # produce false positives (the exact verify pass removes them)
        assert self._run(spark, vals, 20) == self._exact(vals, 20)

    def test_adversarial_distinct_tail(self, spark):
        # one true hitter hidden in an all-distinct tail: the classic MG
        # decrement stress — the candidate pass must still surface it
        vals = ["hot"] * 300 + [f"d{i}" for i in range(2000)]
        rng = random.Random(11)
        rng.shuffle(vals)
        assert self._run(spark, vals, 10) == {"hot": 300}

    def test_counters_below_den_rejected(self, spark):
        df = spark.createDataFrame([("a",)], "item string")
        with pytest.raises(ValueError):
            heavy_hitters_exact(df, "item", 100, counters=50)

    def test_plan_uses_broadcast_semi_join(self, spark):
        df = spark.createDataFrame([(f"x{i % 5}",) for i in range(100)],
                                   "item string").repartition(2)
        out = heavy_hitters_exact(df, "item", 10)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


class TestWordBigrams:
    def test_bigrams_and_short_texts(self, spark):
        df = spark.createDataFrame(
            [("The quick  brown fox",), ("one",), ("",)], "text string")
        out = df.select(_words(F.col("text")).alias("ws")).select(
            F.explode(word_ngrams(F.col("ws"), 2)).alias("g")).collect()
        assert sorted(r["g"] for r in out) == [
            "brown fox", "quick brown", "the quick"]


class TestWordNgrams:
    def _grams(self, spark, n):
        df = spark.createDataFrame(
            [(1, "The quick  brown fox"), (2, "one two"), (3, ""),
             (4, None)], "id int, text string")
        out = (df.select("id", _words(F.col("text")).alias("ws"))
               .select("id", word_ngrams(F.col("ws"), n).alias("g"))
               .collect())
        return {r["id"]: r["g"] for r in out}

    def test_fewer_than_n_words_give_empty(self, spark):
        assert self._grams(spark, 3) == {
            1: ["the quick brown", "quick brown fox"], 2: [], 3: [], 4: []}

    def test_n_one_gives_the_words(self, spark):
        assert self._grams(spark, 1) == {
            1: ["the", "quick", "brown", "fox"], 2: ["one", "two"],
            3: [], 4: []}
