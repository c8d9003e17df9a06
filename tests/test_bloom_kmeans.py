"""Bloom-prefiltered anti-join + exact-integer k-means unit tests.

Both operators have oracle-checked queries (doc_bloom_new_docs,
emb_kmeans_assign); these tests pin the properties the oracle can't see:
the Bloom result is identical to a plain anti-join even when the bitmap
is degenerate (tiny m -> many false positives), the bitmap side of the
probe join is broadcast, and k-means drops empty clusters
deterministically.
"""

import pytest
from pyspark.sql import functions as F

from logparse_rs_spark.operators.dedup import (bloom_anti_join, bloom_bits)
from logparse_rs_spark.operators.similarity import kmeans_assign_exact


def _keys_df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k string")


class TestBloomAntiJoin:
    def test_matches_plain_anti_join(self, spark):
        batch = _keys_df(spark, [f"key{i}" for i in range(200)])
        corpus = _keys_df(spark, [f"key{i}" for i in range(0, 200, 2)])
        got = sorted(r.k for r in
                     bloom_anti_join(batch, corpus, "k").collect())
        want = sorted(r.k for r in
                      batch.join(corpus, "k", "left_anti").collect())
        assert got == want
        assert len(got) == 100

    def test_exact_under_heavy_false_positives(self, spark):
        """m_bits=64 over 100 corpus keys saturates the bitmap, so almost
        every batch key is a maybe-member — the exact verify stage must
        still produce the plain anti-join answer."""
        batch = _keys_df(spark, [f"b{i}" for i in range(50)]
                         + [f"c{i}" for i in range(50)])
        corpus = _keys_df(spark, [f"c{i}" for i in range(100)])
        got = sorted(r.k for r in
                     bloom_anti_join(batch, corpus, "k",
                                     m_bits=64).collect())
        assert got == sorted(f"b{i}" for i in range(50))

    def test_duplicate_batch_keys_all_survive(self, spark):
        """Membership semantics: within-batch copies are NOT collapsed."""
        batch = _keys_df(spark, ["new", "new", "old"])
        corpus = _keys_df(spark, ["old"])
        out = bloom_anti_join(batch, corpus, "k").collect()
        assert sorted(r.k for r in out) == ["new", "new"]

    def test_null_key_rows_survive_like_plain_anti_join(self, spark):
        """A null batch key equals no corpus key, so the plain left_anti
        keeps its row; the Bloom form must keep it too."""
        batch = spark.createDataFrame([(1, "a"), (2, None), (3, "z")],
                                      "doc_id long, k string")
        corpus = _keys_df(spark, ["a", "b"])
        got = sorted(r.doc_id for r in
                     bloom_anti_join(batch, corpus, "k").collect())
        want = sorted(r.doc_id for r in
                      batch.join(corpus, "k", "left_anti").collect())
        assert want == [2, 3]
        assert got == want

    def test_bits_table_is_fixed_size_and_reusable(self, spark):
        """The persisted-bitmap increment path: bits built once, passed
        to bloom_anti_join; table is at most m_bits/63 words."""
        corpus = _keys_df(spark, [f"c{i}" for i in range(500)])
        bits = bloom_bits(corpus, "k", m_bits=1 << 12)
        rows = bits.collect()
        assert len(rows) <= (1 << 12) // 63 + 1
        batch = _keys_df(spark, ["c1", "x1"])
        out = bloom_anti_join(batch, corpus, "k", m_bits=1 << 12,
                              bits=bits)
        assert [r.k for r in out.collect()] == ["x1"]

    def test_probe_join_broadcasts_the_bitmap(self, spark):
        """Plan pin: the bitmap join must be a BroadcastHashJoin — the
        bitmap is fixed-size regardless of corpus cardinality, so it must
        never shuffle the probe side."""
        batch = _keys_df(spark, [f"k{i}" for i in range(64)])
        corpus = _keys_df(spark, [f"k{i}" for i in range(32)])
        plan = (bloom_anti_join(batch, corpus, "k")
                ._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastHashJoin" in plan


class TestKmeansAssignExact:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        # 3 well-separated groups in 4-d so Lloyd's converges in 2 rounds
        rows = []
        for g, base in enumerate([0.0, 10.0, -10.0]):
            for j in range(5):
                rows.append((g * 5 + j,
                             [base + 0.01 * j, base, base, base]))
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>")

    def test_separated_groups_cluster_together(self, vecs):
        out = kmeans_assign_exact(vecs, k=3)
        got = {r.vec_id: r.cluster for r in out.collect()}
        assert len(got) == 15
        for g in range(3):
            ids = [g * 5 + j for j in range(5)]
            assert len({got[i] for i in ids}) == 1, f"group {g} split"

    def test_deterministic_across_partitionings(self, vecs):
        a = {(r.vec_id, r.cluster)
             for r in kmeans_assign_exact(
                 vecs.repartition(7), k=3).collect()}
        b = {(r.vec_id, r.cluster)
             for r in kmeans_assign_exact(
                 vecs.coalesce(1), k=3).collect()}
        assert a == b

    def test_empty_cluster_drops_deterministically(self, spark):
        """Seeds 0 and 1 are near-identical; everything assigns to one of
        them in round 1, so round 2 runs with a dropped centroid — every
        row still gets exactly one assignment."""
        rows = [(0, [0.0, 0.0]), (1, [0.001, 0.0]), (2, [0.0005, 0.0]),
                (3, [100.0, 0.0])]
        df = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>")
        out = kmeans_assign_exact(df, k=2).collect()
        assert len(out) == 4
        assert all(r.cluster in (0, 1) for r in out)


class TestImageAhash:
    def test_raw8_roundtrip_and_sampling(self):
        import numpy as np

        from logparse_rs_spark.operators.multimodal import (_raw8_decode,
                                                            raw8_encode)
        img = np.arange(1024, dtype=np.uint64).reshape(32, 32) % 256
        blob = raw8_encode(img.astype("uint8"))
        g = _raw8_decode(blob, 32, 32)
        assert g.shape == (32, 32)
        assert abs(g[1, 2] - img[1, 2] / 255.0) < 1e-12
        small = _raw8_decode(blob, 8, 8)
        # nearest-neighbor: (j*32)//8 sampling grid
        assert abs(small[1, 1] - img[4, 4] / 255.0) < 1e-12

    def test_identical_bytes_equal_hash_random_far(self):
        import numpy as np
        import pandas as pd

        from logparse_rs_spark.operators.multimodal import (ahash_batch,
                                                            raw8_encode)
        rng = np.random.default_rng(7)
        a = raw8_encode(rng.integers(0, 256, (32, 32), dtype=np.uint8))
        b = raw8_encode(rng.integers(0, 256, (32, 32), dtype=np.uint8))
        h = ahash_batch(pd.Series([a, a, b]))
        assert h[0] == h[1]
        assert bin(int(h[0]) ^ int(h[2]) & (2**64 - 1)).count("1") > 10

    def test_spark_udf_matches_kernel(self, spark):
        import numpy as np
        import pandas as pd

        from logparse_rs_spark.operators.multimodal import (ahash_batch,
                                                            image_ahash,
                                                            raw8_encode)
        rng = np.random.default_rng(11)
        blobs = [raw8_encode(rng.integers(0, 256, (32, 32), dtype=np.uint8))
                 for _ in range(5)]
        df = spark.createDataFrame(
            [(i, bytearray(b)) for i, b in enumerate(blobs)],
            "doc_id long, img binary")
        got = {r.doc_id: r.ahash for r in image_ahash(df).collect()}
        want = ahash_batch(pd.Series(blobs))
        assert [got[i] for i in range(5)] == list(want)
