"""Tests for the training-data operators (dedup / text analysis / similarity /
multimodal plumbing) against independent numpy/pure-Python computations on
the driver-provided testdata tables."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import with_words
from logparse_rs_spark import shared

DEFAULT_BUDGET = shared.BUDGET
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


class TestExactDedup:
    def test_matches_python(self, spark, docs):
        from logparse_rs_spark.operators.dedup import exact_dedup
        got = exact_dedup(docs).agg(
            F.count("*").alias("groups"), F.sum("dup_count").alias("total")
        ).collect()[0]
        rows = docs.select("doc_id", "text").collect()
        import re
        norm = {}
        for r in rows:
            key = re.sub(r"\s+", " ", (r["text"] or "").lower()).strip()
            norm.setdefault(key, []).append(r["doc_id"])
        assert got["groups"] == len(norm)
        assert got["total"] == len(rows)

    def test_survivor_is_min_id(self, spark, docs):
        from logparse_rs_spark.operators.dedup import exact_dedup
        d2 = docs.union(docs)  # force duplicates
        res = exact_dedup(d2)
        assert res.filter("dup_count < 2").count() == 0
        one = res.limit(5).collect()
        assert all(r["doc_id"] is not None for r in one)


class TestMinHash:
    def test_identical_docs_always_pair(self, spark, docs):
        from logparse_rs_spark.operators.dedup import (
            minhash_lsh_pairs, minhash_signatures)
        base = docs.limit(20).select("doc_id", "text")
        clones = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
        sigs = minhash_signatures(base.union(clones), num_perm=64)
        pairs = minhash_lsh_pairs(sigs, bands=16)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        for r in base.collect():
            assert (r["doc_id"], r["doc_id"] + 1_000_000) in got

    def test_signature_determinism(self, spark, docs):
        from logparse_rs_spark.operators.dedup import minhash_signatures
        s1 = minhash_signatures(docs.limit(10)).collect()
        s2 = minhash_signatures(docs.limit(10)).collect()
        assert sorted(map(str, s1)) == sorted(map(str, s2))


class TestSimHash:
    def test_identical_docs_hamming_zero(self, spark, docs):
        from logparse_rs_spark.operators.dedup import (
            simhash, simhash_candidates)
        base = docs.limit(15).select("doc_id", "text")
        clones = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
        sims = simhash(base.union(clones))
        cands = simhash_candidates(sims)
        exact = {(r["id_a"], r["id_b"]): r["hamming"] for r in cands.collect()}
        for r in base.collect():
            key = (r["doc_id"], r["doc_id"] + 1_000_000)
            assert key in exact and exact[key] == 0


class TestNgramJaccard:
    def test_self_pair_jaccard_one(self, spark, docs):
        from logparse_rs_spark.operators.dedup import ngram_jaccard
        base = docs.limit(10).select("doc_id", "text")
        clones = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
        both = base.union(clones)
        pairs = base.select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1_000_000).alias("id_b"))
        out = ngram_jaccard(both, pairs)
        for r in out.collect():
            assert r["jaccard"] == pytest.approx(1.0)

    def test_jaccard_matches_python(self, spark, docs):
        from logparse_rs_spark.operators.dedup import ngram_jaccard
        import re
        base = docs.limit(8).select("doc_id", "text")
        ids = [r["doc_id"] for r in base.select("doc_id").collect()]
        pairs = spark.createDataFrame(
            [(ids[i], ids[j]) for i in range(len(ids))
             for j in range(i + 1, len(ids))],
            "id_a long, id_b long")
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in ngram_jaccard(base, pairs, n=3).collect()}
        texts = {r["doc_id"]: r["text"] for r in base.collect()}

        def grams(t):
            t = re.sub(r"\s+", " ", t.lower()).strip()
            return {t[i:i + 3] for i in range(len(t) - 2)} if len(t) >= 3 else set()

        for (a, b), j in got.items():
            ga, gb = grams(texts[a]), grams(texts[b])
            want = len(ga & gb) / len(ga | gb) if ga | gb else None
            assert j == pytest.approx(want, abs=1e-9), (a, b)


class TestTextOps:
    def test_language_id_markers(self, spark):
        from logparse_rs_spark.operators.text import language_id
        df = spark.createDataFrame(
            [(1, "the cat and the dog went to the park"),
             (2, "der hund und die katze sind nicht hier"),
             (3, "le chat est dans la maison avec les enfants"),
             (4, "zzzz qqqq xxxx"),],
            "doc_id long, text string")
        got = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
        assert got == {1: "en", 2: "de", 3: "fr", 4: "unknown"}

    def test_quality_score_matches_python(self, spark, docs):
        from logparse_rs_spark.operators.text import STOPWORDS, quality_score
        got = {r["doc_id"]: r for r in quality_score(docs.limit(30)).collect()}
        for r in docs.limit(30).collect():
            t = r["text"] or ""
            n_chars = len(t)
            n_alpha = sum(c.isascii() and c.isalpha() for c in t)
            alpha_ratio = n_alpha / n_chars if n_chars else 0.0
            g = got[r["doc_id"]]
            assert g["n_chars"] == n_chars
            assert g["alpha_ratio"] == pytest.approx(alpha_ratio, abs=1e-6)
            padded = f" {t.lower()} "
            stop_ratio = sum(f" {w} " in padded for w in STOPWORDS) / len(STOPWORDS)
            assert g["stop_ratio"] == pytest.approx(stop_ratio, abs=1e-6)

    def test_token_counts_match_python(self, spark, docs):
        import re
        from logparse_rs_spark.operators.text import token_counts
        got = {r["doc_id"]: r for r in token_counts(docs.limit(30)).collect()}
        for r in docs.limit(30).collect():
            t = r["text"] or ""
            g = got[r["doc_id"]]
            ws = len(t.split()) if t.strip() else 0
            runs = [x for x in re.split(r"[^A-Za-z0-9]+", t) if x]
            assert g["ws_tokens"] == ws
            assert g["alnum_runs"] == len(runs)

    def test_fingerprint_exact_fnv(self, spark, docs):
        import re
        from logparse_rs_spark.kernels import fnv1a_hash64
        from logparse_rs_spark.operators.text import fingerprint
        got = {r["doc_id"]: r["fingerprint"]
               for r in fingerprint(docs.limit(10)).collect()}
        for r in docs.limit(10).collect():
            norm = re.sub(r"\s+", " ", (r["text"] or "").lower()).strip()
            want = fnv1a_hash64(norm)
            assert got[r["doc_id"]] & (2**64 - 1) == want


class TestSimilarity:
    def test_brute_force_matches_numpy(self, spark, emb):
        from logparse_rs_spark.operators.similarity import brute_force_topk
        queries = (emb.limit(3)
                   .select(F.col("vec_id").alias("query_id"), "embedding"))
        got = brute_force_topk(emb, queries, k=5).collect()
        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows])
        mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
        matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        qrows = queries.collect()
        for q in qrows:
            qv = np.array(q["embedding"], dtype=np.float64)
            qv = qv / np.linalg.norm(qv)
            sims = matn @ qv
            order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))[:5]
            want = [(int(ids[i]), round(float(sims[i]), 6)) for i in order]
            mine = sorted([(r["vec_id"], r["cos_sim"]) for r in got
                           if r["query_id"] == q["query_id"]],
                          key=lambda x: (-x[1], x[0]))
            assert [m[0] for m in mine] == [w[0] for w in want]
            for m, w in zip(mine, want):
                assert m[1] == pytest.approx(w[1], abs=2e-6)

    def test_lsh_recall_at_least_half_and_self_hit(self, spark, emb):
        from logparse_rs_spark.operators.similarity import (
            brute_force_topk, lsh_topk)
        dim = len(emb.select("embedding").first()["embedding"])
        queries = (emb.limit(5)
                   .select(F.col("vec_id").alias("query_id"), "embedding"))
        exact = brute_force_topk(emb, queries, k=5).collect()
        approx = lsh_topk(emb, queries, dim=dim, k=5, n_planes=32,
                          bands=8).collect()
        exact_sets = {}
        for r in exact:
            exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
        approx_sets = {}
        for r in approx:
            approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
        for qid, want in exact_sets.items():
            got = approx_sets.get(qid, set())
            assert qid in got  # self-similarity always found
            assert len(got & want) / len(want) >= 0.4  # recall floor


class TestMultimodal:
    def test_metadata_and_features(self, spark):
        from logparse_rs_spark.operators.multimodal import (
            decode_and_featurize, frame_sample, media_metadata)
        df = spark.createDataFrame(
            [(1, b"\x89PNG13_fake_image_bytes_payload"),
             (2, b"\xff\xd8\xffJPEGDATA"), (3, None)],
            "id long, blob binary")
        meta = media_metadata(df, "blob").select("id", "media_meta.*").collect()
        tags = {r["id"]: r["format_tag"] for r in meta}
        assert tags[1] == "png" and tags[2] == "jpeg" and tags[3] == "unknown"

        feats = decode_and_featurize(df, "blob", resize_to=4).collect()
        by_id = {r["id"]: r["features"] for r in feats}
        assert len(by_id[1]) == 16 and by_id[3] is None
        # deterministic: same bytes -> same features
        feats2 = decode_and_featurize(df, "blob", resize_to=4).collect()
        assert {r["id"]: r["features"] for r in feats2} == by_id

        frames = frame_sample(df.filter("blob is not null"), "blob").collect()
        assert all(r["frame_digest"] for r in frames)

    def test_strict_mode_raises(self, spark):
        from logparse_rs_spark.operators.multimodal import decode_and_featurize
        from py4j.protocol import Py4JJavaError
        df = spark.createDataFrame([(1, b"x")], "id long, blob binary")
        with pytest.raises(Exception) as exc:
            decode_and_featurize(df, "blob", strict=True).collect()
        assert "NotImplementedError" in str(exc.value) or \
            isinstance(exc.value, NotImplementedError)


class TestIVF:
    def test_ivf_recall_and_self_hit(self, spark, emb):
        from logparse_rs_spark.operators.similarity import (
            brute_force_topk, ivf_topk)
        from pyspark.sql import functions as F
        queries = (emb.filter("vec_id < 5")
                   .select(F.col("vec_id").alias("query_id"), "embedding"))
        exact = brute_force_topk(emb, queries, k=5).collect()
        approx = ivf_topk(emb, queries, k=5, n_cells=8, n_probe=4).collect()
        exact_sets, approx_sets = {}, {}
        for r in exact:
            exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
        for r in approx:
            approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
        for qid, want in exact_sets.items():
            got = approx_sets.get(qid, set())
            assert qid in got  # the vector's own cell is always probed
            assert len(got & want) / len(want) >= 0.4

    def test_ivf_deterministic(self, spark, emb):
        from logparse_rs_spark.operators.similarity import ivf_topk
        from pyspark.sql import functions as F
        queries = (emb.filter("vec_id < 2")
                   .select(F.col("vec_id").alias("query_id"), "embedding"))
        a = sorted(map(tuple, ivf_topk(emb, queries, k=3).collect()))
        b = sorted(map(tuple, ivf_topk(emb, queries, k=3).collect()))
        assert a == b


class TestSemDedup:
    def _vec_df(self, spark, vecs):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>")

    def test_chain_keeps_endpoints(self, spark):
        # a~b and b~c above threshold but a!~c: greedy-against-KEPT keeps
        # a AND c (b is dropped, so c has no kept neighbor). A plain
        # drop-if-any-earlier-neighbor rule would wrongly drop c too.
        from logparse_rs_spark.operators.similarity import semdedup
        import math
        th = math.radians(40)          # cos(40deg)=0.766 > 0.7; cos(80)=0.17
        vecs = [(1.0, 0.0),
                (math.cos(th), math.sin(th)),
                (math.cos(2 * th), math.sin(2 * th))]
        df = self._vec_df(spark, vecs)
        kept = sorted(r.vec_id for r in
                      semdedup(df, threshold=0.7, n_cells=1).collect())
        assert kept == [0, 2]

    def test_matches_python_greedy(self, spark, emb):
        from logparse_rs_spark.operators.similarity import (
            assign_cells_np, kmeans_cells, semdedup)
        got = sorted((r.vec_id, r.ivf_cell) for r in
                     semdedup(emb, threshold=0.35, n_cells=8).collect())
        rows = emb.select("vec_id", "embedding").collect()
        ids = np.array(sorted(r["vec_id"] for r in rows))
        by_id = {r["vec_id"]: r["embedding"] for r in rows}
        vm = np.array([by_id[i] for i in ids], dtype=np.float64)
        x = vm[:4096] / np.maximum(
            np.linalg.norm(vm[:4096], axis=1, keepdims=True), 1e-12)
        cents = kmeans_cells(x, 8, 5, 17)
        cells = assign_cells_np(
            vm, cents / np.linalg.norm(cents, axis=1, keepdims=True))
        vn = vm / np.maximum(
            np.linalg.norm(vm, axis=1, keepdims=True), 1e-12)
        want = []
        for c in np.unique(cells):
            kept = []
            for i in np.where(cells == c)[0]:
                if not kept or (vn[kept] @ vn[i] < 0.35).all():
                    kept.append(i)
            want += [(int(ids[i]), int(c)) for i in kept]
        assert got == sorted(want)
        assert 0 < len(got) < len(ids)   # non-trivial on this fixture

    def test_max_cell_guard(self, spark):
        from logparse_rs_spark.operators.similarity import semdedup
        df = self._vec_df(spark, [(1.0, float(i % 3)) for i in range(20)])
        with pytest.raises(Exception, match="max_cell"):
            semdedup(df, threshold=0.99, n_cells=1, max_cell=5).collect()


class TestDuplicateHeavy:
    """VERDICT r1 #4: duplicate-heavy corpora must not blow up the band join."""

    def test_near_dup_10k_identical(self, spark):
        from logparse_rs_spark.operators.dedup import minhash_near_dup
        rows = [(i, "the same exact document text, repeated verbatim "
                    "across the whole cluster of identical pages")
                for i in range(10_000)]
        rows += [(100_000, "a genuinely different document about spark"),
                 (100_001, "a genuinely different document about spark!")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = minhash_near_dup(df, max_bucket=100).collect()
        # identical docs collapse to ONE canonical id before banding: the
        # 10k-cluster contributes zero pairs instead of ~5*10^7
        assert len(pairs) <= 5
        for r in pairs:
            assert r["id_a"] not in range(1, 10_000)
            assert r["id_b"] not in range(1, 10_000)

    def test_bucket_cap_drops_oversized(self, spark):
        from logparse_rs_spark.operators.dedup import (lsh_bucket_stats,
                                                       minhash_lsh_pairs)
        # 50 DISTINCT ids sharing one signature -> every band bucket has 50
        # members; the cap excludes them from the join
        sig = list(range(64))
        sigs = spark.createDataFrame([(i, sig) for i in range(50)],
                                     "doc_id long, sig array<long>")
        uncapped = minhash_lsh_pairs(sigs, bands=16, num_perm=64)
        assert uncapped.count() == 50 * 49 // 2
        capped = minhash_lsh_pairs(sigs, bands=16, num_perm=64, max_bucket=10)
        assert capped.count() == 0
        stats = lsh_bucket_stats(sigs, bands=16, num_perm=64, max_bucket=10)
        assert stats.count() == 16           # one oversized bucket per band
        assert stats.first()["members"] == 50

    def test_simhash_bucket_cap(self, spark):
        from logparse_rs_spark.operators.dedup import simhash_candidates
        sims = spark.createDataFrame(
            [(i, 0x1234_5678_9ABC_DEF0) for i in range(40)]
            + [(1000, 0x7777_8888_9999_DEF1), (1001, 0x7777_8888_9999_DEF3)],
            "doc_id long, simhash long")
        capped = simhash_candidates(sims, max_bucket=10).collect()
        # the 40-clone cluster is dropped; the two near rows still pair up
        assert {(r["id_a"], r["id_b"]) for r in capped} == {(1000, 1001)}
        assert capped[0]["hamming"] == 1

    def test_simhash_pair_cost_gate(self, spark, monkeypatch, caplog):
        # above SIMHASH_MAX_PAIRS estimated pairs the broadcast emission
        # steps aside and the chunk join runs: the same pairs and hammings
        # as the broadcast path and as BUDGET = 0
        import logging
        import random
        import re

        from logparse_rs_spark.operators import dedup
        rng = random.Random(7)
        rows, i = [], 0
        for _ in range(8):
            base = rng.getrandbits(64)
            for _ in range(12):
                v = base ^ (1 << rng.randrange(64))
                rows.append((i, v - (1 << 64) if v >= 1 << 63 else v))
                i += 1
        rows += [(1000 + k, 0x0123_4567_89AB_CDEF) for k in range(30)]
        sims = spark.createDataFrame(rows, "doc_id long, simhash long")

        def pairs():
            return sorted(tuple(r) for r in dedup.simhash_candidates(
                sims, max_bucket=20).collect())

        limit = dedup.SIMHASH_MAX_PAIRS
        default = pairs()
        monkeypatch.setattr(dedup, "SIMHASH_MAX_PAIRS", 0)
        with caplog.at_level(logging.DEBUG, "logparse_rs_spark.shared"):
            over = pairs()
        assert re.search(r"gate name=simhash_pairs size=[1-9]\d* budget=0 "
                         r"path=distributed", caplog.text)
        monkeypatch.setattr(dedup, "SIMHASH_MAX_PAIRS", limit)
        monkeypatch.setattr(shared, "BUDGET", 0)
        distributed = pairs()
        assert default == over == distributed
        # each 12-member cluster is within 2 bits: all 66 pairs collide;
        # the 30 clones exceed max_bucket and pair with nothing
        assert len(default) >= 8 * 66
        assert all(a < 1000 and b < 1000 for a, b, _ in default)


class TestFastJaccardVerify:
    """ngram_jaccard on both kernel forms (broadcast ids and the text join)
    must equal brute-force Python set Jaccard (injective 21-bit gram
    packing for n=3, null/empty/unicode edges)."""

    EDGE_ROWS = [(1, "Hello  World, this is a test"),
                 (2, "hello world, this is a test"),
                 (3, "ab"), (4, ""),
                 (5, "ümlaut ünïcode tëxt \U0001F600\U0001F600 test"),
                 (6, "ümlaut ünïcode tëxt \U0001F600\U0001F600 test!"),
                 (7, None), (8, "xy")]

    def _all_pairs(self, spark, n):
        return spark.createDataFrame(
            [(a, b) for a in range(1, n + 1) for b in range(a + 1, n + 1)],
            "id_a long, id_b long")

    @staticmethod
    def python_jaccard(texts, pairs, n=3):
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

    @staticmethod
    def both_paths(monkeypatch, d, p):
        """{(id_a, id_b): jaccard} at the default budget and at BUDGET = 0,
        each with an empty shared-frame registry."""
        from collections import OrderedDict

        from logparse_rs_spark.operators.dedup import ngram_jaccard
        out = []
        for budget in (DEFAULT_BUDGET, 0):
            monkeypatch.setattr(shared, "BUDGET", budget)
            monkeypatch.setattr(shared, "_entries", OrderedDict())
            out.append({(r["id_a"], r["id_b"]):
                        None if r["jaccard"] is None
                        else round(r["jaccard"], 9)
                        for r in ngram_jaccard(d, p, n=3).collect()})
        return out

    def test_matches_python_sets_on_edges(self, spark, monkeypatch):
        d = spark.createDataFrame(self.EDGE_ROWS, "doc_id long, text string")
        p = self._all_pairs(spark, 8)
        want = self.python_jaccard(dict(self.EDGE_ROWS),
                                   [tuple(r) for r in p.collect()])
        assert len(want) == 28 and want[(3, 4)] is None
        for got in self.both_paths(monkeypatch, d, p):
            assert got == want

    def test_matches_python_sets_on_corpus(self, spark, docs, monkeypatch):
        from logparse_rs_spark.operators.dedup import minhash_near_dup
        pairs = minhash_near_dup(docs, max_bucket=1000)
        extra = [(9_000_001, "ümlaut \U0001F600\U0001F600 test row"),
                 (9_000_002, "ümlaut \U0001F600\U0001F600 test rows"),
                 (9_000_003, ""), (9_000_004, "   ")]
        d = docs.select("doc_id", "text").unionByName(
            spark.createDataFrame(extra, "doc_id long, text string"))
        p = pairs.unionByName(spark.createDataFrame(
            [(9_000_001, 9_000_002), (9_000_003, 9_000_004),
             (9_000_001, 9_000_003)], "id_a long, id_b long"))
        texts = {r["doc_id"]: r["text"] for r in d.collect()}
        want = self.python_jaccard(texts, [tuple(r) for r in p.collect()])
        assert len(want) > 3 and want[(9_000_003, 9_000_004)] is None
        assert 0 < want[(9_000_001, 9_000_002)] < 1
        for got in self.both_paths(monkeypatch, d, p):
            assert got == want

    def test_n_outside_exact_range_raises(self, spark):
        from logparse_rs_spark.operators.dedup import (containment_pairs,
                                                       ngram_jaccard)
        d = spark.createDataFrame(self.EDGE_ROWS, "doc_id long, text string")
        p = self._all_pairs(spark, 8)
        for bad in (0, 4):
            with pytest.raises(ValueError, match="1 <= n <= 3"):
                ngram_jaccard(d, p, n=bad)
        with pytest.raises(ValueError, match="1 <= n <= 3"):
            containment_pairs(d, p, n=4)

    def test_gram_hash_injective_matches_strings(self):
        from logparse_rs_spark.operators.dedup import _gram_hash_np
        t = "abcabc ééx \U0001F600ab"
        want = {t[i:i + 3] for i in range(len(t) - 2)}
        got = _gram_hash_np(t, 3)
        assert len(got) == len(want)
        assert _gram_hash_np("ab", 3).size == 0


class TestBandingValidation:
    """ADVICE r2: caller-passed num_perm must be validated, both statically
    (divisibility) and against the actual signature length at runtime."""

    def test_bands_must_divide_num_perm(self, spark):
        from logparse_rs_spark.operators.dedup import minhash_lsh_pairs
        sigs = spark.createDataFrame([(1, list(range(64)))],
                                     "doc_id long, sig array<long>")
        with pytest.raises(ValueError, match="divisible"):
            minhash_lsh_pairs(sigs, bands=10, num_perm=64)

    def test_sig_length_mismatch_fails_loudly(self, spark):
        from logparse_rs_spark.operators.dedup import minhash_lsh_pairs
        # signatures built with num_perm=32, banded as if 64: the r2 form
        # silently produced empty-slice buckets that collide for every doc
        sigs = spark.createDataFrame(
            [(i, list(range(32))) for i in range(4)],
            "doc_id long, sig array<long>")
        with pytest.raises(Exception, match="does not match num_perm"):
            minhash_lsh_pairs(sigs, bands=16, num_perm=64).collect()


class TestMultimodalBackends:
    """The decode operator self-upgrades to pillow at import; both backends
    share the contract (fixed-size features, null for empty/undecodable)."""

    def _media(self, spark):
        rows = [(1, b"\x89PNG not really a png"), (2, b""), (3, None)]
        return spark.createDataFrame(rows, "id long, html binary")

    def test_fake_backend_contract(self, spark):
        from logparse_rs_spark.operators.multimodal import decode_and_featurize
        out = {r["id"]: r["features"] for r in decode_and_featurize(
            self._media(spark), resize_to=4, backend="fake").collect()}
        assert len(out[1]) == 16
        assert out[2] is None and out[3] is None

    def test_pillow_backend(self, spark):
        pytest.importorskip("PIL")
        from logparse_rs_spark.operators.multimodal import decode_and_featurize
        # garbage bytes under a REAL decoder -> null features, not a crash
        out = {r["id"]: r["features"] for r in decode_and_featurize(
            self._media(spark), resize_to=4, backend="pillow").collect()}
        assert out[1] is None and out[2] is None and out[3] is None

    def test_forced_pillow_without_pil_raises(self, spark, monkeypatch):
        # environment-independent: simulate the no-codec container by
        # blanking the resolved PIL handle (the operator reads it at call
        # time), so this contract is exercised whether or not PIL exists
        from logparse_rs_spark.operators import multimodal as M
        monkeypatch.setattr(M, "_PIL_Image", None)
        with pytest.raises(NotImplementedError, match="pillow"):
            M.decode_and_featurize(self._media(spark), backend="pillow")


class TestPiiScrub:
    def test_counts_and_scrub(self, spark):
        import pandas as pd
        from logparse_rs_spark.operators.text import pii_scrub
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [
                "mail bob.smith+x@corp.example.com from 10.0.0.1 or 10.0.0.2",
                "call +1-555-1234 today",
                "nothing here",
            ],
        }))
        got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
        assert got[1]["n_email"] == 1
        assert got[1]["n_ip"] == 2
        assert got[2]["n_phone"] == 1
        assert got[3]["n_email"] == got[3]["n_ip"] == got[3]["n_phone"] == 0
        # scrubbed length equals python re.sub applied in the same order
        import re
        from logparse_rs_spark.operators.text import PII_PATTERNS
        texts = {1: "mail bob.smith+x@corp.example.com from 10.0.0.1 or 10.0.0.2",
                 2: "call +1-555-1234 today"}
        for i, t in texts.items():
            s = t
            for kind in sorted(PII_PATTERNS):
                s = re.sub(PII_PATTERNS[kind], f"<{kind.upper()}>", s)
            assert got[i]["scrubbed_len"] == len(s)

    def test_no_python_in_plan(self, spark):
        import pandas as pd
        from logparse_rs_spark.operators.text import pii_scrub
        df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["x"]}))
        plan = pii_scrub(df)._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan  # stays in whole-stage codegen


class TestVocabAndNgrams:
    def test_vocab_matches_python(self, spark, docs):
        from collections import Counter
        from logparse_rs_spark.operators.text import vocab_top
        rows = docs.select("text").collect()
        c = Counter(w for r in rows for w in r["text"].lower().split())
        want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
        got = [(r["token"], r["n"])
               for r in vocab_top(with_words(docs), k=25).collect()]
        assert got == want

    def test_repeated_ngrams_match_python(self, spark, docs):
        from collections import Counter
        from logparse_rs_spark.operators.text import repeated_ngrams
        rows = docs.select("text").collect()
        c = Counter()
        for r in rows:
            ws = r["text"].lower().split()
            for i in range(len(ws) - 4):
                c[" ".join(ws[i:i + 5])] += 1
        want = sorted(((g, n) for g, n in c.items() if n >= 2),
                      key=lambda kv: (-kv[1], kv[0]))[:20]
        got = [(r["ngram"], r["n"])
               for r in repeated_ngrams(with_words(docs), n=5, k=20,
                                        min_count=2).collect()]
        assert got == want

    def test_short_doc_yields_no_ngrams(self, spark):
        import pandas as pd
        from logparse_rs_spark.operators.text import repeated_ngrams
        df = spark.createDataFrame(pd.DataFrame(
            {"doc_id": [1, 2], "text": ["a b c d", "a b c d"]}))
        assert repeated_ngrams(with_words(df), n=5, min_count=1).count() == 0


class TestFingerprintSample:
    def test_deterministic_and_content_keyed(self, spark, docs):
        from logparse_rs_spark.operators.text import fingerprint_sample
        a = sorted(r["doc_id"] for r in
                   fingerprint_sample(docs, 10, 0).select("doc_id").collect())
        b = sorted(r["doc_id"] for r in
                   fingerprint_sample(docs, 10, 0).select("doc_id").collect())
        assert a == b and len(a) > 0
        # repartitioning the input does not change the sample (content-keyed)
        c = sorted(r["doc_id"] for r in
                   fingerprint_sample(docs.repartition(7), 10, 0)
                   .select("doc_id").collect())
        assert a == c

    def test_strata_cover_modulus(self, spark, docs):
        from logparse_rs_spark.operators.text import fingerprint_sample
        total = docs.count()
        sizes = [fingerprint_sample(docs, 4, k).count() for k in range(4)]
        assert sum(sizes) == total


class TestDupClusters:
    def test_components_vs_python(self, spark):
        import pandas as pd
        from logparse_rs_spark.operators.graph import connected_components
        # two triangles bridged by one edge + an isolated pair
        edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4),
                 (10, 11)]
        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["id_a", "id_b"]))
        got = {r["id"]: r["component"]
               for r in connected_components(df).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}

    def test_partitioning_invariant(self, spark):
        import pandas as pd
        import numpy as np
        from logparse_rs_spark.operators.graph import connected_components
        rng = np.random.RandomState(3)
        edges = pd.DataFrame({"id_a": rng.randint(0, 60, 120),
                              "id_b": rng.randint(0, 60, 120)})
        edges = edges[edges.id_a != edges.id_b]
        df = spark.createDataFrame(edges)
        a = sorted(map(tuple, connected_components(df).collect()))
        b = sorted(map(tuple,
                       connected_components(df.repartition(13)).collect()))
        assert a == b
        # cross-check against a python union-find
        parent = list(range(60))
        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for r in edges.itertuples():
            parent[find(r.id_a)] = find(r.id_b)
        want = {}
        for n in set(edges.id_a) | set(edges.id_b):
            want.setdefault(find(n), set()).add(n)
        comp_of = {n: min(m) for m in want.values() for n in m}
        assert dict(a) == comp_of

    def test_nonconvergence_raises(self, spark, monkeypatch):
        # distributed star path (local gate off): too few rounds to reach
        # the fixpoint raise instead of returning a partial clustering.
        # A 13-node chain needs 5 rounds (the last one sees no change).
        monkeypatch.setattr(shared, "BUDGET", 0)
        import pandas as pd
        from logparse_rs_spark.operators.graph import connected_components
        chain = [(i, i + 1) for i in range(12)]
        df = spark.createDataFrame(
            pd.DataFrame(chain, columns=["id_a", "id_b"]))
        with __import__("pytest").raises(RuntimeError, match="converge"):
            connected_components(df, max_iter=2)
        got = connected_components(df, max_iter=5).collect()
        assert {r["component"] for r in got} == {0} and len(got) == 13

    def test_local_gate_matches_star(self, spark, monkeypatch):
        # the size-gated driver-local component path must equal the
        # distributed star contraction on random graphs (incl. self
        # loops and isolated self-pair nodes)
        import numpy as np
        import pandas as pd
        from logparse_rs_spark.operators.graph import connected_components
        rng = np.random.RandomState(5)
        for n_nodes, n_edges in [(30, 15), (50, 120), (9, 3)]:
            edges = pd.DataFrame({
                "id_a": rng.randint(0, n_nodes, n_edges),
                "id_b": rng.randint(0, n_nodes, n_edges)})
            df = spark.createDataFrame(edges)
            monkeypatch.setattr(shared, "BUDGET", 0)
            star = sorted(map(tuple, connected_components(df).collect()))
            monkeypatch.setattr(shared, "BUDGET", DEFAULT_BUDGET)
            local = sorted(map(tuple, connected_components(df).collect()))
            assert star == local

    def test_star_closes_path_graph(self, spark, monkeypatch):
        # the at-scale motivation: a diameter-40 path graph (41 nodes)
        # contracts in O(log n) star rounds, well inside 8 (distributed
        # path — local gate off)
        import pandas as pd
        from logparse_rs_spark.operators.graph import connected_components
        monkeypatch.setattr(shared, "BUDGET", 0)
        chain = [(i, i + 1) for i in range(40)]
        df = spark.createDataFrame(
            pd.DataFrame(chain, columns=["id_a", "id_b"]))
        got = {r["id"]: r["component"]
               for r in connected_components(df, max_iter=8).collect()}
        assert got == {i: 0 for i in range(41)}

    def test_star_reliable_checkpoint_path(self, spark, tmp_path,
                                           monkeypatch):
        # pluggable lineage truncation: with a checkpoint dir configured
        # the rounds use reliable df.checkpoint (executor-loss-safe on a
        # real cluster) and the result is unchanged (local gate off, so
        # the rounds run)
        import pandas as pd
        from logparse_rs_spark.operators.graph import connected_components
        monkeypatch.setattr(shared, "BUDGET", 0)
        edges = [(1, 2), (2, 3), (3, 4), (10, 11)]
        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["id_a", "id_b"]))
        sc = spark.sparkContext
        assert sc.getCheckpointDir() is None
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        try:
            got = {r["id"]: r["component"]
                   for r in connected_components(df).collect()}
        finally:
            # unset so later tests run the localCheckpoint path again
            # (pyspark has no unset API; clear the underlying Option)
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


class TestChunking:
    def test_coverage_and_shape(self, spark, docs):
        from logparse_rs_spark.operators.text import chunk_documents
        chunk, stride = 16, 12
        got = chunk_documents(docs.limit(40), chunk_words=chunk,
                              stride=stride).collect()
        texts = {r["doc_id"]: (r["text"] or "").lower().split()
                 for r in docs.limit(40).collect()}
        per_doc = {}
        for r in got:
            per_doc.setdefault(r["doc_id"], []).append(r)
        for did, ws in texts.items():
            rows = sorted(per_doc.get(did, []),
                          key=lambda r: r["chunk_id"])
            if not ws:
                assert rows == []
                continue
            # ids contiguous from 0
            assert [r["chunk_id"] for r in rows] == list(range(len(rows)))
            # each chunk is exactly the expected word window
            covered = set()
            for r in rows:
                s = r["chunk_id"] * stride
                want = ws[s:s + chunk]
                assert r["chunk_text"].split(" ") == want
                assert r["chunk_words"] == len(want)
                covered.update(range(s, min(s + chunk, len(ws))))
            # full coverage: every word index appears in some chunk
            assert covered == set(range(len(ws)))
            # no fully-redundant trailing window
            if len(rows) > 1:
                prev_end = (rows[-2]["chunk_id"]) * stride + chunk
                assert prev_end < len(ws)


class TestCanonicalUrl:
    def test_hand_written_vectors(self, spark):
        import pandas as pd
        from logparse_rs_spark.operators.text import canonical_url
        cases = [
            ("HTTPS://WWW.Example.COM/Path/To/Page#section",
             "https://www.example.com/Path/To/Page"),
            ("http://example.com:80/a", "http://example.com/a"),
            ("https://example.com:443/a", "https://example.com/a"),
            ("https://example.com:8443/a", "https://example.com:8443/a"),
            ("https://example.com", "https://example.com/"),
            ("https://example.com///", "https://example.com/"),
            ("https://example.com/x?b=2&a=1&c=3",
             "https://example.com/x?a=1&b=2&c=3"),
            ("https://example.com/x?b=2&a=1#frag",
             "https://example.com/x?a=1&b=2"),
            ("http://h/CaseSensitivePath", "http://h/CaseSensitivePath"),
        ]
        df = spark.createDataFrame(
            pd.DataFrame(cases, columns=["url", "want"]))
        got = df.select("url", "want",
                        canonical_url(F.col("url")).alias("canon")).collect()
        for r in got:
            assert r["canon"] == r["want"], r["url"]

    def test_idempotent(self, spark):
        import pandas as pd
        from logparse_rs_spark.operators.text import canonical_url
        urls = ["HTTPS://A.B:443/x/?z=1&y=2#f", "http://c.d:80//p//"]
        df = spark.createDataFrame(pd.DataFrame({"url": urls}))
        once = df.select(canonical_url(F.col("url")).alias("u"))
        twice = once.select(canonical_url(F.col("u")).alias("u"))
        assert [r["u"] for r in once.collect()] == \
               [r["u"] for r in twice.collect()]


class TestWinnowing:
    def test_shared_substring_guarantee(self, spark):
        # the winnowing theorem: two docs sharing a substring of length
        # >= window + k - 1 MUST share at least one fingerprint
        import pandas as pd
        from logparse_rs_spark.operators.dedup import winnow_fingerprints
        k, w = 8, 16
        shared = "x" * 0 + "the common shared passage appears here intact"
        assert len(shared) >= w + k - 1
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [
                f"totally unrelated prefix alpha {shared} suffix one",
                f"different beginning material {shared} and another end",
                "no overlap with anything else entirely disjoint words",
            ],
        }))
        fps = {r["doc_id"]: set(r["fingerprints"]) for r in
               winnow_fingerprints(df, k=k, window=w).collect()}
        assert fps[1] & fps[2], "shared substring must share a fingerprint"
        # and the disjoint doc shares nothing with either
        assert not (fps[3] & fps[1]) and not (fps[3] & fps[2])

    def test_fingerprints_much_smaller_than_grams(self, spark, docs):
        from logparse_rs_spark.operators.dedup import winnow_fingerprints
        rows = winnow_fingerprints(docs.limit(30)).collect()
        for r in rows:
            if r["n_grams"] > 100:
                # selection keeps ~2/(window+1) of positions
                assert r["n_fingerprints"] < r["n_grams"] / 4


class TestMixtureSample:
    def test_nested_and_invariant(self, spark, docs):
        from logparse_rs_spark.operators.text import mixture_sample
        lo = {r["doc_id"] for r in
              mixture_sample(docs, {}, default_rate=0.1).collect()}
        hi = {r["doc_id"] for r in
              mixture_sample(docs, {}, default_rate=0.5).collect()}
        assert lo <= hi  # nested: the 10% sample is inside the 50% one
        hi2 = {r["doc_id"] for r in
               mixture_sample(docs.repartition(7), {},
                              default_rate=0.5).collect()}
        assert hi == hi2  # partitioning-independent

    def test_rates_apply_per_group(self, spark, docs):
        from logparse_rs_spark.operators.text import mixture_sample
        srcs = [r["source"] for r in
                docs.select("source").distinct().collect()]
        zero, full = srcs[0], srcs[1]
        kept = mixture_sample(docs, {zero: 0.0, full: 1.0},
                              default_rate=0.0,
                              group_col="source").collect()
        by_src = {}
        for r in kept:
            by_src[r["source"]] = by_src.get(r["source"], 0) + 1
        totals = {r["source"]: r["n"] for r in
                  docs.groupBy("source").agg(F.count("*").alias("n"))
                  .collect()}
        assert zero not in by_src
        assert by_src.get(full) == totals[full]
        assert set(by_src) == {full}


class TestLmScore:
    def test_gibberish_scores_below_common_text(self, spark):
        import pandas as pd
        from logparse_rs_spark.operators.text import lm_score
        # 20 docs sharing common phrasing + 1 gibberish doc: the bigram
        # model must rank the gibberish lowest
        rows = [(i, "the quick brown fox jumps over the lazy dog again")
                for i in range(20)]
        rows.append((99, "zxq vpw qqj mnb xkcd wvut plok"))
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text"]))
        got = {r["doc_id"]: r["lm_score"]
               for r in lm_score(with_words(df)).collect()}
        assert got[99] == min(got.values())
        assert all(got[i] == got[0] for i in range(20))

    def test_partitioning_invariant_counts(self, spark, docs):
        from logparse_rs_spark.operators.text import lm_score
        a = {r["doc_id"]: r["n_bigrams"]
             for r in lm_score(with_words(docs.limit(50))).collect()}
        b = {r["doc_id"]: r["n_bigrams"]
             for r in lm_score(
                 with_words(docs.limit(50).repartition(7))).collect()}
        assert a == b


class TestPacking:
    def test_budget_and_determinism(self, spark, docs):
        from logparse_rs_spark.operators.text import (
            chunk_documents, pack_chunks)
        ch = chunk_documents(docs, chunk_words=16, stride=12)
        budget = 48
        got = pack_chunks(ch, budget=budget, n_buckets=4).collect()
        words = {(r["doc_id"], r["chunk_id"]): r["chunk_words"]
                 for r in ch.collect()}
        fills = {}
        for r in got:
            key = (r["bucket"], r["pack_id"])
            fills[key] = fills.get(key, 0) + words[(r["doc_id"],
                                                   r["chunk_id"])]
        # a pack only exceeds the budget when it holds a single oversized
        # chunk (budget > chunk size here, so: never)
        n_chunks_per_pack = {}
        for r in got:
            n_chunks_per_pack[(r["bucket"], r["pack_id"])] = \
                n_chunks_per_pack.get((r["bucket"], r["pack_id"]), 0) + 1
        for key, fill in fills.items():
            assert fill <= budget or n_chunks_per_pack[key] == 1
        # greedy tightness: no pack (except the last per bucket) could
        # have absorbed the FIRST chunk of the next pack
        by_bucket = {}
        for r in sorted(got, key=lambda r: (r["bucket"], r["doc_id"],
                                            r["chunk_id"])):
            by_bucket.setdefault(r["bucket"], []).append(r)
        for bucket, rows in by_bucket.items():
            for prev, cur in zip(rows, rows[1:]):
                if cur["pack_id"] == prev["pack_id"] + 1:
                    w = words[(cur["doc_id"], cur["chunk_id"])]
                    assert fills[(bucket, prev["pack_id"])] + w > budget
        # partitioning-independent
        b = sorted(map(tuple, pack_chunks(ch.repartition(13),
                                          budget=budget,
                                          n_buckets=4).collect()))
        assert sorted(map(tuple, got)) == b


class TestQualityPercentile:
    def test_keeps_ceil_frac_per_group(self, spark, docs):
        from logparse_rs_spark.operators.text import (
            quality_percentile_filter)
        import math
        kept = quality_percentile_filter(docs, frac=0.25)
        per = {r["lang"]: r["n"] for r in
               kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        totals = {r["lang"]: r["n"] for r in
                  docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert per == {g: math.ceil(n * 0.25) for g, n in totals.items()}

    def test_survivors_are_top_quality(self, spark, docs):
        # every kept doc's quality >= every dropped doc's quality within
        # the same group (modulo the id tie-break at the threshold)
        from logparse_rs_spark.operators.text import (
            quality_percentile_filter, quality_score)
        kept_ids = {r["doc_id"] for r in
                    quality_percentile_filter(docs, frac=0.25).collect()}
        q = {r["doc_id"]: r["quality"]
             for r in quality_score(docs).collect()}
        langs = {r["doc_id"]: r["lang"]
                 for r in docs.select("doc_id", "lang").collect()}
        for g in set(langs.values()):
            ks = [q[i] for i in kept_ids if langs[i] == g]
            ds = [q[i] for i in q if i not in kept_ids and langs[i] == g]
            if ks and ds:
                # a dropped doc may TIE the threshold quality (id
                # tie-break) but can never exceed it
                assert max(ds) <= min(ks), g

    def test_partitioning_invariant(self, spark, docs):
        from logparse_rs_spark.operators.text import (
            quality_percentile_filter)
        a = sorted(r["doc_id"] for r in
                   quality_percentile_filter(docs, frac=0.25).collect())
        b = sorted(r["doc_id"] for r in
                   quality_percentile_filter(docs.repartition(7), frac=0.25)
                   .collect())
        assert a == b


class TestLengthHistogram:
    def test_matches_python(self, spark, docs):
        from logparse_rs_spark.operators.text import (
            LENGTH_BANDS, length_histogram)
        got = {r["band"]: (r["n_docs"], r["total_chars"]) for r in
               length_histogram(docs).collect()}
        edges = [0] + LENGTH_BANDS
        want = {}
        for r in docs.select("text").collect():
            n = len(r["text"] or "")
            band = f"{LENGTH_BANDS[-1]}+"
            for lo, hi in zip(edges, edges[1:]):
                if n < hi:
                    band = f"{lo}-{hi - 1}"
                    break
            c, t = want.get(band, (0, 0))
            want[band] = (c + 1, t + n)
        assert got == want

    def test_no_shuffle_of_text(self, spark, docs):
        # the plan must aggregate band-cardinality data: a partial
        # hash-aggregate below the exchange, no sort, no text column
        # surviving past the scan projection
        from logparse_rs_spark.operators.text import length_histogram
        plan = (length_histogram(docs)
                ._jdf.queryExecution().executedPlan().toString())
        assert "HashAggregate" in plan
        assert "Sort" not in plan


class TestContamination:
    def test_matches_python(self, spark, docs):
        from collections import defaultdict
        from logparse_rs_spark.operators.text import contamination_check
        rows = docs.select("doc_id", "text").collect()
        def shingles(t):
            ws = t.lower().split()
            return {" ".join(ws[i:i + 5]) for i in range(len(ws) - 4)}
        ev = {r["doc_id"]: shingles(r["text"]) for r in rows
              if r["doc_id"] < 10}
        tr = {r["doc_id"]: shingles(r["text"]) for r in rows
              if r["doc_id"] >= 10}
        want = {}
        for tid, ts in tr.items():
            for eid, es in ev.items():
                k = len(ts & es)
                if k:
                    want[(tid, eid)] = k
        got = {(r["doc_id"], r["eval_id"]): r["shared_ngrams"]
               for r in contamination_check(
                   docs.filter("doc_id >= 10"),
                   docs.filter("doc_id < 10"), n=5).collect()}
        assert got == want

    def test_repeated_phrase_counts_once(self, spark):
        import pandas as pd
        from logparse_rs_spark.operators.text import contamination_check
        phrase = "the quick brown fox jumps"
        train = spark.createDataFrame(pd.DataFrame({
            "doc_id": [100],
            "text": [f"{phrase} and {phrase} and {phrase}"]}))
        evals = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1], "text": [phrase]}))
        out = contamination_check(train, evals, n=5).collect()
        assert len(out) == 1
        assert out[0]["shared_ngrams"] == 1  # distinct per doc, not 3


class TestRebalance:
    def test_quota_and_determinism(self, spark, docs):
        from logparse_rs_spark.operators.text import rebalance_by_group
        kept = rebalance_by_group(docs, group_col="lang", quota=5)
        per = {r["lang"]: r["n"] for r in
               kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        totals = {r["lang"]: r["n"] for r in
                  docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        for lang, n in per.items():
            assert n == min(5, totals[lang])
        a = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
        b = sorted(r["doc_id"] for r in
                   rebalance_by_group(docs.repartition(7), "lang", quota=5)
                   .select("doc_id").collect())
        assert a == b  # survivor set independent of input partitioning

    def test_columns_preserved(self, spark, docs):
        from logparse_rs_spark.operators.text import rebalance_by_group
        kept = rebalance_by_group(docs, group_col="lang", quota=3)
        assert kept.columns == docs.columns

    def test_plan_is_two_phase_topk(self, spark, docs):
        # at-scale guarantee: Catalyst's rank-limit pushdown executes the
        # quota as a two-phase top-K — a PARTIAL per-source-partition
        # WindowGroupLimit below the Exchange (so a skewed giant group
        # ships at most quota rows per map partition, never sorts in full
        # on one reducer) and a FINAL trim above it
        from logparse_rs_spark.operators.text import rebalance_by_group
        plan = (rebalance_by_group(docs, "lang", quota=3)
                ._jdf.queryExecution().executedPlan().toString())
        partial = plan.find("Partial")
        exchange = plan.find("Exchange")
        final = plan.find("WindowGroupLimit")
        assert "WindowGroupLimit" in plan and partial != -1
        # plan prints top-down: Final trim above the Exchange, Partial below
        assert final < exchange < partial

    def test_skewed_group_semantics(self, spark):
        # one giant stratum (100x the quota) plus small ones: survivor set
        # must be quota-capped, content-fingerprint-chosen, and identical
        # under any input partitioning
        import pandas as pd
        from logparse_rs_spark.operators.text import rebalance_by_group
        quota = 4
        rows = [(i, "xx", f"giant doc number {i} with words") for i
                in range(quota * 100)]
        rows += [(10_000 + i, "yy", f"small doc {i}") for i in range(3)]
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "lang", "text"]))
        want = sorted(r["doc_id"] for r in
                      rebalance_by_group(df, "lang", quota=quota).collect())
        for parts in (1, 7, 32):
            got = sorted(r["doc_id"] for r in
                         rebalance_by_group(df.repartition(parts), "lang",
                                            quota=quota).collect())
            assert got == want, f"parts={parts}"
        per = {r["lang"]: r["n"] for r in
               rebalance_by_group(df, "lang", quota=quota)
               .groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert per == {"xx": quota, "yy": 3}


class TestIncrementalDedup:
    def test_batch_vs_corpus_and_within_batch(self, spark):
        from logparse_rs_spark.operators.dedup import incremental_dedup
        corpus = spark.createDataFrame(
            [(0, "old news here"), (1, "other old text")],
            "doc_id long, text string")
        batch = spark.createDataFrame(
            [(10, "OLD   news here"),     # corpus dup modulo normalization
             (11, "brand new text"),      # genuinely new -> kept
             (12, "brand  NEW text"),     # within-batch dup of 11 -> dropped
             (13, "another new one")],    # kept
            "doc_id long, text string")
        got = sorted(r.doc_id for r in
                     incremental_dedup(batch, corpus).collect())
        assert got == [11, 13]

    def test_survivors_keep_full_rows(self, spark):
        from logparse_rs_spark.operators.dedup import incremental_dedup
        corpus = spark.createDataFrame([(0, "seen")],
                                       "doc_id long, text string")
        batch = spark.createDataFrame(
            [(5, "fresh", "en", 42)],
            "doc_id long, text string, lang string, extra long")
        rows = incremental_dedup(batch, corpus).collect()
        assert [(r.doc_id, r.lang, r.extra) for r in rows] == [(5, "en", 42)]

    def test_empty_batch(self, spark):
        from logparse_rs_spark.operators.dedup import incremental_dedup
        corpus = spark.createDataFrame([(0, "seen")],
                                       "doc_id long, text string")
        batch = corpus.filter("doc_id < 0")
        assert incremental_dedup(batch, corpus).count() == 0


class TestCollocations:
    def test_integer_lift_ranking(self, spark):
        from logparse_rs_spark.operators.text import collocations
        # "new york" always together (lift high); "the cat"/"the dog" share
        # a frequent left word (lift low)
        rows = [(i, "new york") for i in range(5)]
        rows += [(100 + i, "the cat") for i in range(5)]
        rows += [(200 + i, "the dog") for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = collocations(with_words(df), k=10, min_count=5).collect()
        assert out[0]["w1"] == "new" and out[0]["w2"] == "york"
        ny = out[0]
        # exact integer lift: 5 * 1e9 // (5 * 5) = 200_000_000
        assert ny["score_ppb"] == 5 * 1000000000 // (5 * 5)
        the_cat = [r for r in out if r["w1"] == "the" and r["w2"] == "cat"]
        assert the_cat and the_cat[0]["score_ppb"] == \
            5 * 1000000000 // (10 * 5)

    def test_min_count_floor(self, spark):
        from logparse_rs_spark.operators.text import collocations
        df = spark.createDataFrame([(1, "rare pair"), (2, "rare pair")],
                                   "doc_id long, text string")
        assert collocations(with_words(df), k=10, min_count=5).count() == 0


class TestExactQuantileBins:
    def test_decile_rule_matches_python(self, spark):
        import math
        from logparse_rs_spark.operators.text import exact_quantile_bins
        vals = [7, 1, 3, 3, 9, 11, 2, 5, 8, 4, 6, 10, 12, 2]
        df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                                   "doc_id long, n_chars long")
        got = {r["quantile"]: (r["boundary"], r["cum_rows"])
               for r in exact_quantile_bins(df, q=10).collect()}
        n = len(vals)
        s = sorted(vals)
        for k in range(1, 10):
            need = math.ceil(k * n / 10)
            boundary = min(v for v in s
                           if sum(1 for x in s if x <= v) >= need)
            cum = sum(1 for x in s if x <= boundary)
            assert got[k] == (boundary, cum), (k, got[k])

    def test_no_corpus_sort_in_plan(self, spark):
        from logparse_rs_spark.operators.text import exact_quantile_bins
        df = spark.createDataFrame([(i, i % 37) for i in range(500)],
                                   "doc_id long, n_chars long")
        out = exact_quantile_bins(df, q=10)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the only Sort operators may sit above the histogram-sized frame
        # (window over distinct values, final orderBy) — the corpus-side
        # plan is scan -> partial agg -> exchange on v, no global range
        # exchange of the raw rows
        assert plan.count("Exchange rangepartitioning") <= 2, plan
        assert out.count() == 9

    def test_partitioning_invariance(self, spark):
        from logparse_rs_spark.operators.text import exact_quantile_bins
        df = spark.createDataFrame([(i, (i * 13) % 101) for i in range(300)],
                                   "doc_id long, n_chars long")
        a = sorted(map(tuple, exact_quantile_bins(df, q=4).collect()))
        b = sorted(map(tuple,
                       exact_quantile_bins(df.repartition(17), q=4)
                       .collect()))
        assert a == b


class TestInvertedIndex:
    def test_postings_sorted_distinct_banded(self, spark):
        from logparse_rs_spark.operators.text import inverted_index
        df = spark.createDataFrame([
            (3, "mitochondria mitochondria extra"),
            (1, "mitochondria potato"),
            (2, "mitochondria"),
            (4, "singleton_token_here"),
        ], "doc_id long, text string")
        out = {r["token"]: (r["df"], r["postings"])
               for r in inverted_index(with_words(df), min_df=2, max_df=8,
                                       min_len=8).collect()}
        # within-doc repeats collapse; ids ascend; df band drops the
        # singleton; short tokens (potato, extra) drop scan-side
        assert out == {"mitochondria": (3, "1,2,3")}

    def test_max_df_caps_stopword_head(self, spark):
        from logparse_rs_spark.operators.text import inverted_index
        df = spark.createDataFrame(
            [(i, "everywhere_token") for i in range(20)],
            "doc_id long, text string")
        assert inverted_index(with_words(df), min_df=2, max_df=8,
                              min_len=8).count() == 0

    def test_ngram_phrase_postings(self, spark):
        from logparse_rs_spark.operators.text import inverted_index
        # the trigram "quick brown fox" spans docs 1 and 2 (distinct even
        # though doc 2 repeats it); too-short docs contribute no grams
        df = spark.createDataFrame([
            (1, "the quick brown fox jumps"),
            (2, "quick brown fox quick brown fox"),
            (3, "quick brown"),
        ], "doc_id long, text string")
        out = {r["token"]: (r["df"], r["postings"])
               for r in inverted_index(with_words(df), min_df=2, max_df=8,
                                       min_len=1, ngram=3).collect()}
        assert out == {"quick brown fox": (2, "1,2")}


class TestRelatedDocPairs:
    def test_shared_phrase_pairs(self, spark):
        from logparse_rs_spark.operators.text import related_doc_pairs
        # docs 1,2 share TWO distinct trigrams; docs 1,3 share one; the
        # "common common common..." trigram exceeds max_df=2 and is banded
        # out, so it creates no pairs
        df = spark.createDataFrame([
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),
            (3, "x y gamma delta epsilon"),
            (4, "common run here"), (5, "common run here"),
            (6, "common run here"),
        ], "doc_id long, text string")
        out = {(r["id_a"], r["id_b"]): r["shared_terms"]
               for r in related_doc_pairs(with_words(df), min_shared=2,
                                          min_df=2, max_df=2,
                                          ngram=3).collect()}
        # "alpha beta gamma" + "beta gamma delta" -> (1,2) shared 2;
        # (1,3) shares only "gamma delta epsilon" -> below min_shared
        assert out == {(1, 2): 2}

    def test_pair_fanout_bounded_by_max_df(self, spark):
        from logparse_rs_spark.operators.text import related_doc_pairs
        # 20 identical docs: every trigram has df=20 > max_df=8 -> banded
        # out entirely, the all-pairs explosion never happens
        df = spark.createDataFrame(
            [(i, "one two three four five") for i in range(20)],
            "doc_id long, text string")
        assert related_doc_pairs(with_words(df), min_shared=1, min_df=2,
                                 max_df=8, ngram=3).count() == 0


class TestBpePairCounts:
    def test_weighted_by_word_frequency(self, spark):
        from logparse_rs_spark.operators.text import bpe_pair_counts
        # "ab" x3, "abc" x1 -> pair (a,b) weight 4, (b,c) weight 1;
        # single-char word contributes nothing
        df = spark.createDataFrame(
            [(1, "ab ab x"), (2, "ab abc")], "doc_id long, text string")
        got = {(r["a"], r["b"]): r["weighted_count"]
               for r in bpe_pair_counts(df, k=10).collect()}
        assert got == {("a", "b"): 4, ("b", "c"): 1}

    def test_vocab_not_corpus_scaling(self, spark):
        from logparse_rs_spark.operators.text import bpe_pair_counts
        # 1000 repeats of one word = same output as 1 (weights differ)
        df = spark.createDataFrame(
            [(i, "hello") for i in range(1000)], "doc_id long, text string")
        got = {(r["a"], r["b"]): r["weighted_count"]
               for r in bpe_pair_counts(df, k=10).collect()}
        assert got == {("h", "e"): 1000, ("e", "l"): 1000,
                       ("l", "l"): 1000, ("l", "o"): 1000}


class TestTfidfTopk:
    def test_exact_integer_scores(self, spark):
        from logparse_rs_spark.operators.text import tfidf_topk
        # N=4 docs; "rare" df=1 (idf 4e9), "both" df=2 (idf 2e9)
        df = spark.createDataFrame([
            (1, "rare both"), (2, "both both"),
            (3, "other words"), (4, "more other"),
        ], "doc_id long, text string")
        got = {r["doc_id"]: r["score_ppb"]
               for r in tfidf_topk(with_words(df), terms=["rare", "both"],
                                   k=10).collect()}
        assert got == {1: 4_000_000_000 + 2_000_000_000,
                       2: 2 * 2_000_000_000}

    def test_tie_pinned_by_doc_id(self, spark):
        from logparse_rs_spark.operators.text import tfidf_topk
        df = spark.createDataFrame(
            [(9, "term"), (3, "term"), (7, "term")],
            "doc_id long, text string")
        ids = [r["doc_id"]
               for r in tfidf_topk(with_words(df), terms=["term"],
                                   k=2).collect()]
        assert ids == [3, 7]


class TestQuantileBucketStats:
    def test_bucket_rule_boundary_inclusive(self, spark):
        from logparse_rs_spark.operators.text import quantile_bucket_stats
        # quartiles of 1..8: boundaries 2,4,6 — value == boundary stays in
        # the lower bucket (strictly-below counting)
        df = spark.createDataFrame([(i, i) for i in range(1, 9)],
                                   "doc_id long, n_chars long")
        got = {r["bucket"]: (r["n_docs"], r["min_v"], r["max_v"],
                             r["total_v"])
               for r in quantile_bucket_stats(df, q=4).collect()}
        assert got == {1: (2, 1, 2, 3), 2: (2, 3, 4, 7),
                       3: (2, 5, 6, 11), 4: (2, 7, 8, 15)}

    def test_every_doc_assigned_once(self, spark):
        from logparse_rs_spark.operators.text import quantile_bucket_stats
        df = spark.createDataFrame([(i, (i * 7) % 23) for i in range(200)],
                                   "doc_id long, n_chars long")
        rows = quantile_bucket_stats(df, q=10).collect()
        assert sum(r["n_docs"] for r in rows) == 200


class TestPagerankInteger:
    def _py_pagerank(self, pairs, iters=3, scale=10**12):
        from collections import defaultdict
        adj = defaultdict(list)
        for a, b in pairs:
            adj[a].append(b)
            adj[b].append(a)
        pr = {n: scale for n in adj}
        base = (15 * scale) // 100
        for _ in range(iters):
            inflow = defaultdict(int)
            for s, outs in adj.items():
                share = pr[s] // len(outs)
                for t in outs:
                    inflow[t] += share
            pr = {n: base + (inflow[n] * 85) // 100 for n in adj}
        return pr

    def test_matches_python_replica(self, spark):
        from logparse_rs_spark.operators.graph import pagerank_integer
        pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (5, 6)]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {r["node"]: r["pr"]
               for r in pagerank_integer(df, iterations=3).collect()}
        assert got == self._py_pagerank(pairs)

    def test_hub_outranks_leaf(self, spark):
        from logparse_rs_spark.operators.graph import pagerank_integer
        # star: node 0 touches 1..5 -> 0 must rank strictly highest
        pairs = [(0, i) for i in range(1, 6)]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {r["node"]: r["pr"]
               for r in pagerank_integer(df, iterations=3).collect()}
        assert got[0] == max(got.values())
        assert all(got[0] > got[i] for i in range(1, 6))

    def test_partitioning_invariance_exact(self, spark):
        from logparse_rs_spark.operators.graph import pagerank_integer
        pairs = [(i, (i * 7 + 1) % 50) for i in range(50)
                 if i != (i * 7 + 1) % 50]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        a = sorted(map(tuple, pagerank_integer(df, 3).collect()))
        b = sorted(map(tuple,
                       pagerank_integer(df.repartition(17), 3).collect()))
        assert a == b

    def test_local_gate_matches_distributed(self, spark, monkeypatch):
        # bit-exact parity of the size-gated numpy path vs the
        # distributed rounds, incl. duplicate edges and self-loops
        import numpy as np
        from logparse_rs_spark.operators.graph import pagerank_integer
        rng = np.random.RandomState(9)
        pairs = [(int(a), int(b))
                 for a, b in zip(rng.randint(0, 25, 60),
                                 rng.randint(0, 25, 60))]
        pairs += [(3, 3), (1, 2), (1, 2)]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        monkeypatch.setattr(shared, "BUDGET", 0)
        dist = sorted(map(tuple, pagerank_integer(df, 3).collect()))
        monkeypatch.setattr(shared, "BUDGET", DEFAULT_BUDGET)
        local = sorted(map(tuple, pagerank_integer(df, 3).collect()))
        assert dist == local


class TestRankFusion:
    def test_exact_rrf_arithmetic(self, spark):
        from logparse_rs_spark.operators.text import rank_fusion_topk
        # doc 1: only tfidf hit (rank 1); doc 2: longest (rank 1 in len);
        # doc 3: second-longest. RRF contributions are 1e9 // (60+rank).
        df = spark.createDataFrame([
            (1, "query"), (2, "x" * 50), (3, "y" * 40),
        ], "doc_id long, text string")
        got = {r["doc_id"]: r["fused_ppb"]
               for r in rank_fusion_topk(with_words(df), terms=["query"], k=10,
                                         pool=2).collect()}
        c = lambda r: 1000000000 // (60 + r)
        # len ranking pool=2 keeps docs 2,3; tfidf pool keeps doc 1 only
        assert got == {1: c(1), 2: c(1), 3: c(2)}

    def test_doc_in_both_rankings_sums(self, spark):
        from logparse_rs_spark.operators.text import rank_fusion_topk
        # one doc matches the query AND is longest -> contributions add
        df = spark.createDataFrame([
            (5, "query " + "z" * 60), (6, "w" * 30),
        ], "doc_id long, text string")
        got = {r["doc_id"]: r["fused_ppb"]
               for r in rank_fusion_topk(with_words(df), terms=["query"], k=10,
                                         pool=5).collect()}
        c = lambda r: 1000000000 // (60 + r)
        assert got[5] == c(1) + c(1) and got[6] == c(2)


class TestNewOpPlanShapes:
    """Plan pins: the scale-critical shape claims in the docstrings must
    be visible in the executed plan, not just asserted in prose."""

    def test_bpe_two_exchanges_only(self, spark):
        from logparse_rs_spark.operators.text import bpe_pair_counts
        df = spark.createDataFrame([(1, "ab ba ab")],
                                   "doc_id long, text string")
        plan = (bpe_pair_counts(df, k=5)
                ._jdf.queryExecution().executedPlan().toString())
        # corpus -> word-count agg (1 exchange) -> pair agg (1 exchange)
        # -> TakeOrdered; pair extraction must NOT re-touch the corpus
        assert plan.count("Exchange hashpartitioning") <= 2, plan
        assert "Join" not in plan, plan

    def test_related_pairs_no_join_no_cartesian(self, spark):
        from logparse_rs_spark.operators.text import related_doc_pairs
        df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")],
                                   "doc_id long, text string")
        plan = (related_doc_pairs(with_words(df), min_shared=1, min_df=2,
                                  max_df=8, ngram=3)
                ._jdf.queryExecution().executedPlan().toString())
        # pair fan-out is a bounded double-explode of posting arrays —
        # never a self-join of the (token, doc) frame
        assert "CartesianProduct" not in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert plan.count("Generate explode") >= 2, plan

    def test_tfidf_broadcasts_idf(self, spark):
        from logparse_rs_spark.operators.text import tfidf_topk
        df = spark.createDataFrame([(1, "x y"), (2, "x")],
                                   "doc_id long, text string")
        plan = (tfidf_topk(with_words(df), terms=["x", "y"], k=5)
                ._jdf.queryExecution().executedPlan().toString())
        # df/N ride back onto the hit frame via broadcast — the hit frame
        # must never sort-merge against the (tiny) idf side
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_sliding_window_no_join(self, spark):
        from logparse_rs_spark.operators.behavior import (
            sliding_window_activity)
        ev = spark.createDataFrame(
            [(1, 1, "2024-01-01 00:05:00")],
            "event_id long, user_id long, ts_s string").selectExpr(
                "event_id", "user_id",
                "CAST(ts_s AS TIMESTAMP_NTZ) AS ts")
        plan = (sliding_window_activity(ev)
                ._jdf.queryExecution().executedPlan().toString())
        # window replication happens in the row (explode/expand), not via
        # a join against a window table
        assert "Join" not in plan, plan


class TestSoftDedupAndReps:
    def _clusters(self, spark):
        # two clusters: {1,2,3} rooted at 1, {10,11} rooted at 10
        from logparse_rs_spark.operators.graph import dup_clusters
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
        return dup_clusters(pairs=pairs)

    def test_soft_dedup_weights_exact(self, spark):
        from logparse_rs_spark.operators.dedup import soft_dedup_weights
        docs = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long")
        got = {r["doc_id"]: (r["cluster_size"], r["weight_ppm"])
               for r in soft_dedup_weights(docs, self._clusters(spark))
               .collect()}
        assert got[1] == got[2] == got[3] == (3, 333333)
        assert got[10] == got[11] == (2, 500000)
        assert got[99] == (1, 1000000)  # singleton untouched, full weight

    def test_cluster_reps_quality_argmax_and_tiebreak(self, spark):
        from logparse_rs_spark.operators.dedup import cluster_representatives
        quality = spark.createDataFrame(
            [(1, 0.2), (2, 0.9), (3, 0.9),     # tie on 0.9 -> min id 2
             (10, 0.5), (11, 0.4), (99, 1.0)],
            "doc_id long, quality double")
        rows = {r["component"]: r for r in cluster_representatives(
            self._clusters(spark), quality).collect()}
        assert set(rows) == {1, 10}  # one row per cluster, no singletons
        assert rows[1]["rep_doc_id"] == 2
        assert rows[1]["rep_quality"] == 0.9
        assert rows[1]["cluster_size"] == 3
        assert rows[10]["rep_doc_id"] == 10
        assert rows[10]["cluster_size"] == 2


class TestSpanNoveltyAndSourceOverlap:
    def test_span_novelty_first_occurrence(self, spark):
        from logparse_rs_spark.operators.dedup import span_novelty
        # doc 0: 4 words -> 2 distinct 3-grams, all first-seen
        # doc 1: copies doc 0 verbatim -> 0 novel
        # doc 2: one span copied from doc 0, one new
        docs = spark.createDataFrame(
            [(0, "a b c d"), (1, "a b c d"), (2, "a b c x y")],
            "doc_id long, text string")
        got = {r["doc_id"]: r
               for r in span_novelty(with_words(docs), n=3).collect()}
        assert (got[0]["n_spans"], got[0]["n_novel"]) == (2, 2)
        assert got[0]["novel_ppm"] == 1000000
        assert (got[1]["n_spans"], got[1]["n_novel"]) == (2, 0)
        assert got[1]["novel_ppm"] == 0
        # doc 2 spans: "a b c" (seen in doc 0), "b c x", "c x y"
        assert (got[2]["n_spans"], got[2]["n_novel"]) == (3, 2)
        assert got[2]["novel_ppm"] == 666666

    def test_source_overlap_canonical_pairs(self, spark):
        from logparse_rs_spark.operators.dedup import source_overlap
        docs = spark.createDataFrame(
            [(1, "feedB"), (2, "feedA"), (3, "feedA"), (4, "feedA")],
            "doc_id long, source string")
        pairs = spark.createDataFrame(
            [(1, 2), (2, 1), (3, 4)], "id_a long, id_b long")
        rows = {(r["source_a"], r["source_b"]): r
                for r in source_overlap(pairs, docs).collect()}
        # both (1,2) directions land on the SAME canonical key
        ab = rows[("feedA", "feedB")]
        assert ab["n_pairs"] == 2 and ab["n_docs"] == 2
        aa = rows[("feedA", "feedA")]
        assert aa["n_pairs"] == 1 and aa["n_docs"] == 2


class TestContainmentPairs:
    """ngram_overlap_pairs / containment_pairs: the asymmetric
    subset-duplication scores, cross-checked against python gram sets."""

    def _grams(self, t):
        import re
        t = re.sub(r"\s+", " ", (t or "").lower()).strip()
        return {t[i:i + 3] for i in range(max(len(t) - 2, 0))}

    def test_overlap_counts_vs_python(self, spark):
        from logparse_rs_spark.operators.dedup import ngram_overlap_pairs
        rows = [(1, "the quick brown fox jumps over the lazy dog"),
                (2, "quick brown fox"),          # contained in 1
                (3, "completely different words here"),
                (4, "")]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        p = spark.createDataFrame(
            [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long")
        got = {(r["id_a"], r["id_b"]): (r["n_common"], r["n_a"], r["n_b"])
               for r in ngram_overlap_pairs(d, p, n=3).collect()}
        texts = dict(rows)
        for (ia, ib), (nc, na, nb) in got.items():
            ga, gb = self._grams(texts[ia]), self._grams(texts[ib])
            assert (nc, na, nb) == (len(ga & gb), len(ga), len(gb))
        assert len(got) == 3

    def test_containment_catches_subset_jaccard_misses(self, spark):
        from logparse_rs_spark.operators.dedup import containment_pairs
        long = "word%d " * 200 % tuple(range(200))
        short = "word10 word11 word12 word13 word14 word15"
        d = spark.createDataFrame(
            [(1, long), (2, short)], "doc_id long, text string")
        p = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        out = containment_pairs(d, p, n=3, min_ppm=900_000).collect()
        # the short side is fully contained -> cont_b = 1.0 exactly,
        # though Jaccard is tiny; the pair must survive the filter
        assert len(out) == 1
        r = out[0]
        assert r["cont_b_ppm"] == 1_000_000
        assert r["cont_a_ppm"] < 200_000

    def test_empty_side_yields_null_not_error(self, spark):
        from logparse_rs_spark.operators.dedup import containment_pairs
        d = spark.createDataFrame(
            [(1, "some real text here"), (2, "")],
            "doc_id long, text string")
        p = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        # empty gram set: its containment is NULL and the pair dies at
        # the threshold instead of dividing by zero
        assert containment_pairs(d, p, n=3).count() == 0
