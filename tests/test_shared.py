"""The shared-frame registry and the driver-collect gate
(logparse_rs_spark/shared.py), and the operators whose fast paths sit
behind the gate: string ids, bad parameters and wide embeddings must give
the distributed plan's answer."""

from collections import OrderedDict
from types import SimpleNamespace

import numpy as np
import pytest
from pyspark.sql import functions as F

from logparse_rs_spark import shared


@pytest.fixture
def registry(monkeypatch):
    """An empty registry for one test; the session's entries come back
    afterwards."""
    monkeypatch.setattr(shared, "_entries", OrderedDict())
    monkeypatch.setattr(shared, "_app", None)
    return shared


def _python_jaccard(texts, pairs, n=3):
    """{pair: exact char-n-gram set Jaccard (9 places)} of normalized
    texts, None for two empty gram sets."""
    import re

    def grams(t):
        t = re.sub("[ \t\n\r\f\x0b]+", " ", (t or "").lower()).strip(" ")
        return {t[i:i + n] for i in range(len(t) - n + 1)}
    out = {}
    for a, b in pairs:
        ga, gb = grams(texts[a]), grams(texts[b])
        union = len(ga | gb)
        out[(a, b)] = round(len(ga & gb) / union, 9) if union else None
    return out


def _app(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def arrow_fetches(spark, monkeypatch):
    """Row counts of every Arrow fetch the gate makes."""
    cls = type(spark.range(1))
    real = cls.toArrow
    fetched = []

    def spy(self):
        tbl = real(self)
        fetched.append(tbl.num_rows)
        return tbl

    monkeypatch.setattr(cls, "toArrow", spy)
    return fetched


class TestRegistry:
    def test_hit_returns_the_built_value(self, spark, registry):
        calls = []
        build = lambda: calls.append(1) or object()  # noqa: E731
        a = registry.shared(spark, "x", "k", build)
        b = registry.shared(spark, "x", "k", build)
        assert a is b and len(calls) == 1
        assert registry.stats()["entries"] == [("x", "k")]

    def test_eviction_unpersists(self, spark, registry, monkeypatch):
        monkeypatch.setattr(shared, "MAX_ENTRIES", 2)
        released = []
        real = shared.Broadcast.unpersist
        monkeypatch.setattr(shared.Broadcast, "unpersist",
                            lambda self: released.append(self) or real(self))
        df = registry.shared(spark, "df", 1,
                             lambda: spark.range(10).persist())
        df.count()
        bc = registry.shared(spark, "bc", 1,
                             lambda: spark.sparkContext.broadcast([1, 2]))
        assert df.is_cached
        evictions = registry.stats()["evictions"]
        registry.shared(spark, "third", 1, lambda: None)
        assert not df.is_cached
        registry.shared(spark, "fourth", 1, lambda: None)
        assert released == [bc] and bc._jbroadcast.isValid()
        st = registry.stats()
        assert st["evictions"] == evictions + 2
        assert st["entries"] == [("third", 1), ("fourth", 1)]

    def test_application_change_drops_entries(self, spark, registry):
        df = registry.shared(_app("app-1"), "df", 1,
                             lambda: spark.range(10).persist())
        df.count()
        calls = []
        registry.shared(_app("app-2"), "df", 1,
                        lambda: calls.append(1) or spark.range(5))
        assert calls == [1] and not df.is_cached
        st = registry.stats()
        assert st["app"] == "app-2" and st["entries"] == [("df", 1)]

    def test_clear_forces_rebuild(self, spark, registry):
        calls = []
        build = lambda: calls.append(1) or len(calls)  # noqa: E731
        assert registry.shared(spark, "x", "k", build) == 1
        registry.clear()
        assert registry.stats()["entries"] == []
        assert registry.shared(spark, "x", "k", build) == 2

    def test_returned_frame_survives_clear(self, spark, registry,
                                           tmp_path):
        # a frame an operator returned before clear() still holds the
        # released text broadcast in its UDF closure
        from logparse_rs_spark.operators.dedup import containment_pairs
        texts = ["the quick brown fox", "the quick brown fox jumps",
                 "quick brown", "nothing alike here"]
        path = str(tmp_path / "docs")
        spark.createDataFrame(list(enumerate(texts)),
                              "doc_id long, text string").write.parquet(path)
        docs = spark.read.parquet(path)
        pairs = spark.createDataFrame(
            [(a, b) for a in range(4) for b in range(a + 1, 4)],
            "id_a long, id_b long")
        cont = containment_pairs(docs, pairs)
        assert [k[0] for k in registry.stats()["entries"]] == ["norm_texts"]
        want = sorted(cont.collect())
        registry.clear()
        assert sorted(cont.collect()) == want and len(want) == 3

    def test_remembers_a_none(self, spark, registry):
        calls = []
        for _ in range(2):
            assert registry.shared(
                spark, "x", "k", lambda: calls.append(1)) is None
        assert calls == [1]


class TestCollectIfFits:
    def test_fixed_width_cap_from_schema(self, spark, arrow_fetches,
                                         monkeypatch):
        df = spark.range(100).select("id", F.col("id").cast("int")
                                     .alias("i"))          # 12 B per row
        monkeypatch.setattr(shared, "BUDGET", 1200)
        assert shared.collect_if_fits(df, "t").num_rows == 100
        monkeypatch.setattr(shared, "BUDGET", 1199)
        assert shared.collect_if_fits(df, "t") is None
        # the over-budget probe fetched cap + 1 rows, not the frame
        assert arrow_fetches == [100, 99 + 1]

    def test_caller_row_bytes_cap_an_array_frame(self, spark, arrow_fetches,
                                                 monkeypatch):
        df = spark.range(10).select(
            "id", F.array(F.lit(1.0).cast("float")).alias("v"))
        monkeypatch.setattr(shared, "BUDGET", 10 * 100)
        assert shared.collect_if_fits(df, "t", row_bytes=100).num_rows == 10
        assert shared.collect_if_fits(df, "t", row_bytes=101) is None
        # one capped fetch each, no separate size job
        assert arrow_fetches == [10, 9 + 1]

    def test_over_budget_variable_width_never_collects(self, spark,
                                                       arrow_fetches,
                                                       monkeypatch):
        df = spark.createDataFrame([(1, "abc"), (2, None)],
                                   "id long, t string")
        size = 2 * (8 + shared.ROW_OVERHEAD) + 3
        monkeypatch.setattr(shared, "BUDGET", size - 1)
        assert shared.collect_if_fits(df, "t") is None
        assert arrow_fetches == []
        monkeypatch.setattr(shared, "BUDGET", size)
        tbl = shared.collect_if_fits(df, "t")
        assert tbl.column("t").to_pylist() == ["abc", None]

    def test_long_tail_rejected_before_collect(self, spark, arrow_fetches,
                                               monkeypatch):
        # a short head and a huge tail: a first-1000-rows length sample
        # estimates ~135 KB, the exact size is ~1.1 MB
        from logparse_rs_spark.operators.dedup import _bcast_norm_texts
        rows = ([(i, "a") for i in range(1000)]
                + [(1000 + i, "b" * 10_000) for i in range(100)])
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        monkeypatch.setattr(shared, "BUDGET", 500_000)
        assert _bcast_norm_texts(docs) is None
        assert arrow_fetches == []

    def test_array_columns_are_sized_exactly(self, spark, monkeypatch):
        df = spark.createDataFrame([(1, [1.0, 2.0]), (2, None)],
                                   "id long, v array<float>")
        size = 2 * (8 + shared.ROW_OVERHEAD) + 2 * 4
        monkeypatch.setattr(shared, "BUDGET", size - 1)
        assert shared.collect_if_fits(df, "t") is None
        monkeypatch.setattr(shared, "BUDGET", size)
        assert shared.collect_if_fits(df, "t").num_rows == 2

    def test_unsized_column_never_fits(self, spark, arrow_fetches):
        df = spark.createDataFrame([(1, {"a": 1})],
                                   "id long, m map<string, int>")
        assert shared.collect_if_fits(df, "t") is None
        assert arrow_fetches == []

    def test_budget_zero_forces_distributed(self, spark, monkeypatch):
        monkeypatch.setattr(shared, "BUDGET", 0)
        assert shared.collect_if_fits(spark.range(3), "t") is None

    def test_logs_one_record_per_decision(self, spark, caplog, monkeypatch):
        monkeypatch.setattr(shared, "BUDGET", 100)
        with caplog.at_level("DEBUG", logger="logparse_rs_spark.shared"):
            shared.collect_if_fits(spark.range(3), "probe")
        assert [r.getMessage() for r in caplog.records
                if r.name == "logparse_rs_spark.shared"] == [
            "gate name=probe size=24 budget=100 path=local"]


class TestGatedOperators:
    def test_string_ids_take_the_join_plan(self, spark):
        from logparse_rs_spark.operators.dedup import (containment_pairs,
                                                       ngram_jaccard)
        texts = ["the quick brown fox", "the quick brown fox jumps",
                 "quick brown", "nothing alike here",
                 "quick \U0001F600\U0001F600 fox", "", "   "]
        ids = ["d0", "d1", "d2", "d3", "d4", "d5", "d6"]
        docs = spark.createDataFrame(list(zip(ids, texts)),
                                     "doc_id string, text string")
        pairs = spark.createDataFrame(
            [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]],
            "id_a string, id_b string")
        want = _python_jaccard(dict(zip(ids, texts)),
                               [tuple(r) for r in pairs.collect()])
        got = {(r["id_a"], r["id_b"]):
               None if r["jaccard"] is None else round(r["jaccard"], 9)
               for r in ngram_jaccard(docs, pairs).collect()}
        assert got == want and len(got) == 21
        assert want[("d5", "d6")] is None
        cont = {(r["id_a"], r["id_b"])
                for r in containment_pairs(docs, pairs).collect()}
        assert cont == {("d0", "d1"), ("d0", "d2"), ("d1", "d2")}

    def test_repeated_ids_score_each_row_against_its_own_text(
            self, spark, monkeypatch):
        # a doc id on two rows: the broadcast {id: text} would keep one
        # text for both; each row must be scored against its own text,
        # as the distributed join plan does
        from logparse_rs_spark.operators.dedup import containment_pairs
        docs = spark.createDataFrame(
            [(1, "spark fast row engine"), (2, "spark slow row engine"),
             (2, "completely different words here")],
            "doc_id long, text string")
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        runs = []
        for budget in (shared.BUDGET, 0):
            monkeypatch.setattr(shared, "BUDGET", budget)
            runs.append(sorted(map(tuple, containment_pairs(
                docs, pairs, min_ppm=0).collect())))
        assert runs[0] == runs[1]
        assert sorted(r[2] for r in runs[0]) == [0, 13]

    def test_neardup_1536_dims_broadcast_matches_banded(self, spark,
                                                        monkeypatch):
        from logparse_rs_spark.operators.similarity import neardup_pairs
        dim, threshold = 1536, 0.35
        rng = np.random.default_rng(7)
        base = rng.standard_normal((60, dim))
        rows = []
        for i, v in enumerate(base):
            rows.append((2 * i, v))
            # a partner whose cosine to v spreads around the threshold
            w = rng.uniform(0.25, 0.45)
            u = rng.standard_normal(dim)
            rows.append((2 * i + 1, w * v / np.linalg.norm(v)
                         + np.sqrt(1 - w * w) * u / np.linalg.norm(u)))
        vecs = spark.createDataFrame(
            [(i, v.astype(np.float32).tolist()) for i, v in rows],
            "vec_id long, embedding array<float>")
        bcast = sorted(neardup_pairs(vecs, dim, threshold).collect())
        monkeypatch.setattr(shared, "BUDGET", 0)
        banded = sorted(neardup_pairs(vecs, dim, threshold).collect())
        assert bcast == banded and len(bcast) > 5
