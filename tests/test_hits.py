"""HITS hubs/authorities + reciprocal-link stats (operators/graph.py).

Cross-checks the exact-integer Spark implementations against pure-Python
integer replicas of the same recurrences (the same role the DuckDB
oracles play for the entry queries), pins partitioning invariance, and
pins the JVM-only plan shape.
"""

import pandas as pd
import pytest


def _hits_py(edges, iterations=2, scale=10**6):
    # pure-Python replica of hits_integer's integer recurrence
    nodes = sorted({x for e in edges for x in e})
    hub = {n: scale for n in nodes}
    auth = None
    for _ in range(iterations):
        raw_a = {}
        for s, t in edges:
            raw_a[t] = raw_a.get(t, 0) + hub[s]
        mx = max(raw_a.values())
        auth = {n: (raw_a.get(n, 0) * scale) // mx for n in nodes}
        raw_h = {}
        for s, t in edges:
            raw_h[s] = raw_h.get(s, 0) + auth[t]
        mx = max(raw_h.values())
        hub = {n: (raw_h.get(n, 0) * scale) // mx for n in nodes}
    return hub, auth


class TestHitsInteger:
    def test_vs_python_replica(self, spark):
        from logparse_rs_spark.operators.graph import hits_integer
        # bipartite-ish: two hubs fanning into shared authorities + a tail
        edges = [(1, 10), (1, 11), (1, 12), (2, 10), (2, 11), (3, 12),
                 (10, 20), (11, 20)]
        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["src_host", "dst_host"]))
        got = {r["node"]: (r["hub"], r["auth"])
               for r in hits_integer(df, iterations=2).collect()}
        hub, auth = _hits_py(edges)
        assert got == {n: (hub[n], auth[n]) for n in hub}

    def test_star_graph_extremes(self, spark):
        from logparse_rs_spark.operators.graph import hits_integer
        # every spoke points at the hub: the hub is the max authority
        # (auth = scale exactly) and has hub score 0 (no out-edges);
        # spokes are identical max hubs with auth 0
        edges = [(i, 99) for i in range(1, 6)]
        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["src_host", "dst_host"]))
        got = {r["node"]: (r["hub"], r["auth"])
               for r in hits_integer(df, iterations=2).collect()}
        assert got[99] == (0, 10**6)
        for spoke in range(1, 6):
            assert got[spoke] == (10**6, 0)

    def test_partitioning_invariant(self, spark):
        import numpy as np
        from logparse_rs_spark.operators.graph import hits_integer
        rng = np.random.RandomState(7)
        e = pd.DataFrame({"src_host": rng.randint(0, 40, 150),
                          "dst_host": rng.randint(0, 40, 150)})
        e = e[e.src_host != e.dst_host].drop_duplicates()
        df = spark.createDataFrame(e)
        a = sorted(map(tuple, hits_integer(df).collect()))
        b = sorted(map(tuple, hits_integer(df.repartition(13)).collect()))
        assert a == b
        hub, auth = _hits_py(list(map(tuple, e.itertuples(index=False))))
        assert a == sorted((n, hub[n], auth[n]) for n in hub)

    def test_rejects_zero_iterations(self, spark):
        from logparse_rs_spark.operators.graph import hits_integer
        df = spark.createDataFrame(
            pd.DataFrame([(1, 2)], columns=["src_host", "dst_host"]))
        with pytest.raises(ValueError):
            hits_integer(df, iterations=0)


class TestReciprocalLinkStats:
    def test_hand_case(self, spark):
        from logparse_rs_spark.operators.graph import reciprocal_link_stats
        # a<->b reciprocated, a->c not; c has no out-edges (absent);
        # duplicate a->b rows and the a->a self-loop must not count
        edges = [("a", "b"), ("b", "a"), ("a", "c"), ("a", "b"),
                 ("a", "a")]
        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["src_host", "dst_host"]))
        got = {r["node"]: (r["n_out"], r["n_recip"], r["recip_ppm"])
               for r in reciprocal_link_stats(df).collect()}
        assert got == {"a": (2, 1, 500000), "b": (1, 1, 1000000)}

    def test_jvm_only_plan(self, spark):
        from logparse_rs_spark.operators.graph import reciprocal_link_stats
        df = spark.createDataFrame(
            pd.DataFrame([("a", "b"), ("b", "a")],
                         columns=["src_host", "dst_host"]))
        plan = (reciprocal_link_stats(df)
                ._jdf.queryExecution().executedPlan().toString())
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan


class TestTriangleCounts:
    def test_k4_hand_case(self, spark):
        from logparse_rs_spark.operators.graph import triangle_counts
        # complete graph on 4 nodes: C(3,2)=3 triangles per node, fed as
        # MESSY directed input (duplicates, both directions, a self-loop)
        edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                 (2, 1), (4, 3), (1, 2), (3, 3)]
        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["src_host", "dst_host"]))
        got = {r["node"]: r["n_triangles"]
               for r in triangle_counts(df).collect()}
        assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_vs_python_and_partitioning(self, spark):
        import itertools
        import numpy as np
        from logparse_rs_spark.operators.graph import triangle_counts
        rng = np.random.RandomState(11)
        e = pd.DataFrame({"src_host": rng.randint(0, 25, 160),
                          "dst_host": rng.randint(0, 25, 160)})
        e = e[e.src_host != e.dst_host]
        und = {tuple(sorted(t)) for t in e.itertuples(index=False)}
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        expected = {}
        for a, b, c in itertools.combinations(sorted(adj), 3):
            if b in adj[a] and c in adj[a] and c in adj[b]:
                for n in (a, b, c):
                    expected[n] = expected.get(n, 0) + 1
        df = spark.createDataFrame(e)
        got = sorted(map(tuple, triangle_counts(df).collect()))
        assert got == sorted(expected.items())
        re_got = sorted(map(tuple,
                            triangle_counts(df.repartition(13)).collect()))
        assert re_got == got

    def test_triangle_free_graph_is_empty(self, spark):
        from logparse_rs_spark.operators.graph import triangle_counts
        # a 4-cycle has no triangles
        df = spark.createDataFrame(
            pd.DataFrame([(1, 2), (2, 3), (3, 4), (4, 1)],
                         columns=["src_host", "dst_host"]))
        assert triangle_counts(df).count() == 0


class TestSequentialIds:
    def test_dense_ordinals_match_sorted_order(self, spark):
        import numpy as np
        from logparse_rs_spark.operators.curate import sequential_ids
        rng = np.random.RandomState(5)
        keys = rng.permutation(1000)[:200]  # unique, shuffled
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": keys, "payload": keys * 7}))
        out = sequential_ids(df, ["doc_id"], num_partitions=7).collect()
        got = {r["doc_id"]: r["seq_id"] for r in out}
        expected = {k: i for i, k in enumerate(sorted(keys))}
        assert got == expected
        # payload columns survive
        assert all(r["payload"] == r["doc_id"] * 7 for r in out)

    def test_composite_key_order(self, spark):
        from logparse_rs_spark.operators.curate import sequential_ids
        rows = [("fr", 3), ("en", 9), ("en", 1), ("de", 5)]
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["lang", "doc_id"]))
        got = {(r["lang"], r["doc_id"]): r["seq_id"]
               for r in sequential_ids(df, ["lang", "doc_id"],
                                       num_partitions=3).collect()}
        assert got == {("de", 5): 0, ("en", 1): 1, ("en", 9): 2,
                       ("fr", 3): 3}

    def test_more_partitions_than_rows(self, spark):
        from logparse_rs_spark.operators.curate import sequential_ids
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [2, 1]}))
        got = {r["doc_id"]: r["seq_id"]
               for r in sequential_ids(df, ["doc_id"],
                                       num_partitions=8).collect()}
        assert got == {1: 0, 2: 1}


def _kcore_py(edges, k):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        deg = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        dead = {n for n, d in deg.items() if d < k}
        if not dead:
            return deg
        und = {(a, b) for a, b in und
               if a not in dead and b not in dead}
        if not und:
            return {}


class TestKcoreNodes:
    def test_triangle_survives_pendant_chain_peels(self, spark):
        from logparse_rs_spark.operators.graph import kcore_nodes
        # triangle {1,2,3} is the 2-core; the chain 3-4-5-6 peels away
        # one node per round (a multi-round cascade)
        edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)]
        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["src_host", "dst_host"]))
        got = {r["node"]: r["core_degree"]
               for r in kcore_nodes(df, k=2).collect()}
        assert got == {1: 2, 2: 2, 3: 2}

    def test_whole_graph_peels_to_empty(self, spark):
        from logparse_rs_spark.operators.graph import kcore_nodes
        df = spark.createDataFrame(
            pd.DataFrame([(1, 2), (2, 3)], columns=["src_host", "dst_host"]))
        assert kcore_nodes(df, k=2).count() == 0

    def test_vs_python_and_partitioning(self, spark):
        import numpy as np
        from logparse_rs_spark.operators.graph import kcore_nodes
        rng = np.random.RandomState(13)
        e = pd.DataFrame({"src_host": rng.randint(0, 30, 120),
                          "dst_host": rng.randint(0, 30, 120)})
        e = e[e.src_host != e.dst_host]
        df = spark.createDataFrame(e)
        want = sorted(_kcore_py(list(map(tuple,
                                         e.itertuples(index=False))),
                                3).items())
        got = sorted(map(tuple, kcore_nodes(df, k=3).collect()))
        assert got == want
        re_got = sorted(map(tuple,
                            kcore_nodes(df.repartition(13),
                                        k=3).collect()))
        assert re_got == want

    def test_raises_when_peels_exhausted(self, spark):
        from logparse_rs_spark.operators.graph import kcore_nodes
        # a 5-chain needs 2 peel rounds at k=2 before emptiness is
        # visible; max_peels=1 must refuse rather than return wrong
        df = spark.createDataFrame(
            pd.DataFrame([(1, 2), (2, 3), (3, 4), (4, 5)],
                         columns=["src_host", "dst_host"]))
        with pytest.raises(RuntimeError):
            kcore_nodes(df, k=2, max_peels=1)
