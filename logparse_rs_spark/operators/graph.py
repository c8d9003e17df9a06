"""Connected components over a pair graph — the clustering step of a
near-duplicate dedup pipeline (LSH/verify emits PAIRS; keeping one canonical
document per duplicate GROUP needs the transitive closure of those pairs).

The distributed form is alternating large-star / small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14).
It converges in O(log n) rounds regardless of diameter, so it is the
10^12-node form: a path graph contracts in ~log2(n) passes. Each pass is a
groupBy-min on the node key plus one join — narrow (long, long) shuffles
only. Edge lists that fit the driver-collect budget skip the rounds and
run locally in numpy (_components_local).

Scale notes:
- convergence is checked with one small agg action per round (iterative
  algorithms need a driver decision point; the frames aggregated are
  edge-id-sized, not payload-sized).
- lineage is truncated per round through ``_truncate``: a RELIABLE
  checkpoint (``df.checkpoint``) whenever the session has a checkpoint dir
  configured (``spark.sparkContext.setCheckpointDir`` — survives executor
  loss on a real cluster), falling back to ``localCheckpoint`` otherwise
  (fine single-node / in tests, fragile to executor loss on a cluster).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..shared import collect_if_fits

# fixed-point units (1.0) and rounds of pagerank_integer, and the
# fixed-point unit of hits_integer
PR_SCALE = 10**12
PR_ITERATIONS = 3
HITS_SCALE = 10**6


def _truncate(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut lineage between rounds (iterative plans grow exponentially
    otherwise). Reliable checkpoint when the session configured a
    checkpoint dir; localCheckpoint as the single-node fallback.
    eager=False defers materialization to the caller's next action —
    rounds that immediately run a convergence agg save one job each."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Return (id, component) for every node appearing in `pairs`, where
    component = min node id reachable through the pair graph.

    Deterministic: depends only on the edge SET, not on partitioning or
    input order. Below the driver-collect gate the components are computed
    locally (_components_local); above it, star contraction
    (_components_star) raises if it has not converged after max_iter
    rounds instead of returning a wrong clustering.
    """
    local = _components_local(pairs)
    if local is not None:
        return local
    return _components_star(pairs, max_iter)


def _components_local(pairs: DataFrame):
    """Size-gated local path: when the edge list fits the driver-collect
    budget (shared.collect_if_fits: 16 B per edge, so 4M edges at the
    default), pull it once and run vectorized min-label propagation with
    pointer jumping in numpy; None above the gate (the distributed
    star rounds run unchanged). The limit probe stops the scan at
    cap+1 rows on oversized graphs. Identical output: component = min
    node id reachable, nodes = pair endpoints, deterministic (depends
    only on the edge set). Replaces O(log n) rounds of 6-exchange Spark
    jobs with one collect for the small-graph regime."""
    tbl = collect_if_fits(pairs.select(F.col("id_a").cast("long").alias("a"),
                                       F.col("id_b").cast("long").alias("b")),
                          "components")
    if tbl is None:
        return None
    spark = pairs.sparkSession
    schema = "id long, component long"
    if not tbl.num_rows:
        return spark.createDataFrame([], schema)
    ea = tbl.column("a").to_numpy()
    eb = tbl.column("b").to_numpy()
    uniq, inv = np.unique(np.concatenate([ea, eb]), return_inverse=True)
    ia, ib = inv[:len(ea)], inv[len(ea):]
    n = len(uniq)
    # symmetric edge list sorted by source once; per round the neighbor
    # min is one segment-min (reduceat) + pointer jump. Labels are dense
    # indices into the SORTED unique ids, so min index == min id.
    sa = np.concatenate([ia, ib])
    sb = np.concatenate([ib, ia])
    order = np.argsort(sa, kind="stable")
    sa, sb = sa[order], sb[order]
    seg = np.flatnonzero(np.r_[True, sa[1:] != sa[:-1]])
    seg_nodes = sa[seg]
    labels = np.arange(n, dtype=np.int64)
    for _ in range(200):
        prev = labels
        nm = np.minimum.reduceat(labels[sb], seg)
        labels = labels.copy()
        # seg_nodes are unique (one row per source segment)
        labels[seg_nodes] = np.minimum(labels[seg_nodes], nm)
        labels = np.minimum(labels, labels[labels])
        if np.array_equal(labels, prev):
            break
    else:  # pragma: no cover - 200 jump-compressed rounds >> any diameter
        raise RuntimeError("local components did not converge")
    comp = uniq[labels]
    out = pd.DataFrame({"id": uniq, "component": comp})
    return spark.createDataFrame(out, schema=schema)


def _large_star(e: DataFrame) -> DataFrame:
    """Kiveris et al. large-star: for each node u, connect every strictly
    LARGER neighbor to m = min(N(u) ∪ {u}). Input/output: canonical
    directed edge set (a > b), distinct, no self-loops."""
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = (sym.groupBy("a").agg(F.min("b").alias("mn"))
            .select("a", F.least("a", "mn").alias("m")))
    return (sym.join(mins, on="a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Kiveris et al. small-star: for each node u over its SMALLER
    neighbors N (the canonical direction already stores exactly those),
    connect every v ∈ N ∪ {u} to m = min(N). Keeps canonical a > b."""
    mins = e.groupBy("a").agg(F.min("b").alias("m"))
    j = e.join(mins, on="a")
    return (j.select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct())


def _edge_fingerprint(e: DataFrame):
    """Order-insensitive edge-set fingerprint for the convergence check:
    count plus two independent 64-bit hash sums — one narrow agg action,
    no extra shuffle of the edge set (vs an exceptAll diff per round)."""
    # decimal(38,0) accumulator: a long sum of 64-bit hashes overflows
    # under ANSI mode (Spark 4 default)
    row = e.agg(F.count("*").alias("n"),
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h1"),
                F.sum(F.xxhash64("b", "a").cast("decimal(38,0)")).alias("h2")
                ).first()
    return (row["n"], row["h1"], row["h2"])


def _components_star(pairs: DataFrame, max_iter: int) -> DataFrame:
    # truncate the INPUT once: nodes and the canonical edge set both
    # derive from it, and for LSH pair graphs the pair lineage is the
    # whole signature/banding/verify computation — without this it would
    # execute once per derived frame
    pairs = _truncate(
        pairs.select(F.col("id_a").cast("long").alias("s"),
                     F.col("id_b").cast("long").alias("d")), eager=False)
    nodes = (pairs.select(F.col("s").alias("id"))
             .union(pairs.select(F.col("d").alias("id")))
             .distinct())
    nodes = _truncate(nodes, eager=False)
    e = (pairs.select(F.greatest("s", "d").alias("a"),
                      F.least("s", "d").alias("b"))
         .filter(F.col("a") != F.col("b"))
         .distinct())
    # lazy truncation: the fingerprint agg that follows each round is the
    # action that materializes the checkpoint — one job per round, not two
    e = _truncate(e, eager=False)
    fp = _edge_fingerprint(e)
    for _ in range(max_iter):
        e = _truncate(_small_star(_large_star(e)), eager=False)
        nfp = _edge_fingerprint(e)
        if nfp == fp:
            break
        fp = nfp
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds")
    # fixpoint edge set is one star per component: (v, component_min).
    # Roots and input-isolated nodes (self-pair-only) label themselves.
    stars = e.select(F.col("a").alias("id"), F.col("b").alias("component"))
    return (nodes.join(stars, on="id", how="left")
            .select("id", F.coalesce("component", "id").alias("component")))


def dup_clusters(pairs: Optional[DataFrame] = None,
                 components: Optional[DataFrame] = None) -> DataFrame:
    """Per-node duplicate-cluster assignment + cluster size:
    (id, component, cluster_size). Pass `components` to reuse an
    already-computed (id, component) frame — the propagation result is a
    checkpointed DataFrame, so callers running several cluster-derived
    queries in one session should compute it once and share it."""
    if components is None:
        if pairs is None:
            raise ValueError("need pairs or components")
        components = connected_components(pairs)
    sizes = components.groupBy("component").agg(
        F.count("*").alias("cluster_size"))
    return components.join(sizes, on="component").select(
        "id", "component", "cluster_size")


def _pagerank_local(pairs: DataFrame):
    """Size-gated local path for pagerank_integer (the same
    shared.collect_if_fits gate as _components_local): the exact-integer
    rounds run as numpy int64 segment sums over the collected edge list.
    Bit-identical to the distributed rounds inside the documented
    overflow bound — every quantity is positive, so int64 // and sums
    match Spark's BIGINT DIV / SUM exactly. None above the gate."""
    tbl = collect_if_fits(pairs.select(F.col("id_a").alias("s"),
                                       F.col("id_b").alias("t")), "pagerank")
    if tbl is None:
        return None
    spark = pairs.sparkSession
    node_field = pairs.schema["id_a"]
    out_schema = T.StructType([
        T.StructField("node", node_field.dataType),
        T.StructField("pr", T.LongType()),
    ])
    if not tbl.num_rows:
        return spark.createDataFrame([], out_schema)
    sv = tbl.column("s").to_numpy()
    tv = tbl.column("t").to_numpy()
    uniq, inv = np.unique(np.concatenate([sv, tv]), return_inverse=True)
    si = np.concatenate([inv[:len(sv)], inv[len(sv):]])
    ti = np.concatenate([inv[len(sv):], inv[:len(sv)]])
    n = len(uniq)
    deg = np.bincount(si, minlength=n).astype(np.int64)
    order = np.argsort(ti, kind="stable")
    si_o, ti_o = si[order], ti[order]
    seg = np.flatnonzero(np.r_[True, ti_o[1:] != ti_o[:-1]])
    seg_nodes = ti_o[seg]
    base = np.int64((15 * PR_SCALE) // 100)
    pr = np.full(n, np.int64(PR_SCALE))
    for _ in range(PR_ITERATIONS):
        contrib = pr[si_o] // deg[si_o]
        inflow = np.zeros(n, dtype=np.int64)
        inflow[seg_nodes] = np.add.reduceat(contrib, seg)
        pr = base + inflow * np.int64(85) // np.int64(100)
    out = pd.DataFrame({"node": uniq, "pr": pr})
    return spark.createDataFrame(out, schema=out_schema)


def pagerank_integer(pairs: DataFrame) -> DataFrame:
    """PageRank over an UNDIRECTED pair graph in EXACT INTEGER arithmetic —
    the link-authority ranking pass (here: which documents sit centrally
    in the shared-rare-phrase graph; on a web corpus, the host/page link
    graph), expressed so any two engines produce bit-identical scores.

    Determinism: ranks live in fixed-point units of ``scale`` (PR_SCALE,
    1e12 = 1.0). Each round computes ``pr' = (15 * scale) DIV 100 +
    (85 * inflow) DIV 100`` with ``inflow = SUM(pr DIV degree)`` over
    in-neighbors — integer division and integer sums are associative/
    commutative, so no float summation order can differ. (Float PageRank
    diverges in the last ulps across engines; exact equality is what the
    oracle gate needs, and rank ORDER is identical for any plausible
    epsilon.)

    Scale shape: each round is one join of the edge list against the
    node-rank frame + one groupBy-sum on the destination key — the same
    narrow (long, long) shuffle class as a label-propagation round.
    Undirected degree >= 1 for every node by construction, so there are
    no dangling-mass corrections. Driver holds only the loop counter;
    lineage is truncated per round via the module's checkpoint policy.

    Overflow bound (the exact-integer contract): a node's ``inflow`` is at
    most the total circulating mass ~ n_nodes * scale (realizable: a star
    hub fed by degree-1 leaves), so ``inflow * 85`` stays inside BIGINT
    only while ``n_nodes * scale < 2^63 / 85`` ~ 1.08e17 — i.e. ~1e5 nodes
    at scale=1e12, ~1e8 nodes at scale=1e9, ~1e11 nodes at
    scale=1e6. Pick ``scale <= 2^63 / (100 * n_nodes)``: rank precision
    trades directly against node count. Spark (non-ANSI) would WRAP
    silently past the bound while DuckDB errors, so exceeding it breaks
    cross-engine bit-equality silently — size ``scale`` first.

    Returns (node, pr BIGINT): every node of the ``id_a``/``id_b`` pairs
    with its rank after PR_ITERATIONS rounds. ``node`` inherits the input
    id type (BIGINT for doc ids, STRING for host names — any equi-joinable
    key works; only ``pr`` is guaranteed BIGINT).
    """
    local = _pagerank_local(pairs)
    if local is not None:
        return local
    # materialize the edge list ONCE: without truncation every round's
    # joins re-derive the pair-generation lineage (posting lists, LSH,
    # whatever produced the pairs) from the raw scan — measured 28 s vs
    # ~1 s at sf0.1 on the rare-phrase graph. deg rides on the truncated
    # edges, and its own reuse across rounds is an in-plan exchange reuse.
    edges = _truncate(
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("t"))
        .union(pairs.select(F.col("id_b").alias("s"),
                            F.col("id_a").alias("t"))),
        eager=True)
    deg = edges.groupBy("s").agg(F.count("*").alias("outdeg"))
    base = (15 * PR_SCALE) // 100
    pr = deg.select(F.col("s").alias("node"),
                    F.lit(PR_SCALE).cast("long").alias("pr"))
    for _ in range(PR_ITERATIONS):
        inflow = (edges
                  .join(pr.withColumnRenamed("node", "s"), "s")
                  .join(deg, "s")
                  .groupBy(F.col("t").alias("node"))
                  .agg(F.sum(F.expr("pr DIV outdeg")).alias("inflow")))
        pr = _truncate(
            deg.select(F.col("s").alias("node"))
            .join(inflow, "node", "left")
            .select("node",
                    (F.lit(base).cast("long")
                     + F.expr("CAST(coalesce(inflow, 0) * 85 DIV 100 "
                              "AS BIGINT)")).alias("pr")),
            eager=False)
    return pr


def hits_integer(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """HITS hubs-and-authorities over a DIRECTED edge set in EXACT INTEGER
    arithmetic — the classic complement to PageRank on a web host graph
    (Kleinberg, "Authoritative Sources in a Hyperlinked Environment",
    JACM'99): authorities are pages many good hubs point TO, hubs are
    pages that point to many good authorities. Together with PageRank it
    is the standard pair of link-quality signals a crawl-corpus curator
    ranks hosts by.

    Determinism: scores live in fixed-point units of ``scale`` (HITS_SCALE;
    the per-round maximum normalizes to exactly ``scale``). Each round is
    ``auth_raw(t) = SUM(hub(s))`` over in-edges, then ``auth = (auth_raw
    * scale) DIV max(auth_raw)``, then the mirrored hub update from the
    NEW auth — integer sums and integer division only, so any two engines
    produce bit-identical scores (float HITS diverges in the last ulps).
    Max-normalization replaces the float L2 norm; it preserves per-round
    rank order exactly.

    Overflow bound (the exact-integer contract): ``auth_raw <= d_in_max *
    scale`` and the normalization product ``auth_raw * scale`` must stay
    inside BIGINT, so ``d_max * scale^2 < 2^63`` — at scale=1e6 that is
    d_max < 9.2e6 distinct in- (or out-) neighbors per node; pick
    ``scale <= sqrt(2^63 / d_max)`` for denser graphs. Spark
    (non-ANSI) would WRAP silently past the bound while DuckDB errors, so
    size ``scale`` first (same contract note as ``pagerank_integer``).

    Scale shape: per round, two narrow (key, long) joins of the edge list
    against a node-score frame + two groupBy-sums + two 1-row max
    aggregates broadcast back — the same shuffle class as a PageRank
    round. Edges are materialized once; lineage is truncated per round.

    Caller supplies the (src_host, dst_host) edge SET (dedupe/self-loop
    policy is the caller's; ``directed_edge_set`` is the host graph's).
    Returns (node, hub BIGINT, auth BIGINT) for every node; ``node``
    inherits the input id type.
    """
    if iterations < 1:
        raise ValueError("hits_integer needs iterations >= 1")
    e = _truncate(edges.select(F.col("src_host").alias("s"),
                               F.col("dst_host").alias("t")), eager=True)
    nodes = e.select(F.col("s").alias("node")).union(
        e.select(F.col("t").alias("node"))).distinct()
    hub = nodes.select("node", F.lit(HITS_SCALE).cast("long").alias("hub"))
    for _ in range(iterations):
        auth = _hits_step(e, nodes, hub, "s", "t", "auth")
        hub = _hits_step(e, nodes, auth, "t", "s", "hub")
    return hub.join(auth, "node")


def _hits_step(e: DataFrame, nodes: DataFrame, scores: DataFrame, by: str,
               to: str, name: str) -> DataFrame:
    """One HITS half-step: (node, <name>) for every node, the max-normalized
    sum of the (node, score) ``scores`` of its ``by``-side neighbors over
    the (s, t) edges ``e`` — auth from hub along s -> t, hub from auth
    along t -> s."""
    raw = (e.join(scores.withColumnRenamed("node", by), by)
           .groupBy(F.col(to).alias("node"))
           .agg(F.sum(scores.columns[1]).alias("raw")))
    mx = F.broadcast(raw.agg(F.max("raw").alias("mx")))
    return _truncate(
        nodes.join(raw, "node", "left").crossJoin(mx)
        .select("node",
                F.coalesce(
                    F.expr(f"CAST(raw * {HITS_SCALE} DIV mx AS BIGINT)"),
                    F.lit(0).cast("long")).alias(name)),
        eager=False)


def directed_edge_set(edges: DataFrame) -> DataFrame:
    """The distinct directed (src_host, dst_host) edges of an edge list,
    self-loops dropped — the edge set of the directed link operators
    (reciprocal_link_stats; hits_integer's caller)."""
    return (edges.filter(F.col("src_host") != F.col("dst_host"))
            .select("src_host", "dst_host").distinct())


def undirected_edge_set(edges: DataFrame) -> DataFrame:
    """The distinct undirected (id_a, id_b) pairs, id_a < id_b, of the
    graph a (src_host, dst_host) edge list induces, self-loops dropped —
    the pair set of triangle_counts, kcore_nodes and pagerank_integer's
    host-graph caller."""
    return (edges.filter(F.col("src_host") != F.col("dst_host"))
            .select(F.least("src_host", "dst_host").alias("id_a"),
                    F.greatest("src_host", "dst_host").alias("id_b"))
            .distinct())


def _degrees(und: DataFrame) -> DataFrame:
    """(n, d): each node's degree in an undirected (id_a, id_b) pair set."""
    return (und.select(F.col("id_a").alias("n"))
            .union(und.select(F.col("id_b").alias("n")))
            .groupBy("n").agg(F.count("*").alias("d")))


def reciprocal_link_stats(edges: DataFrame) -> DataFrame:
    """Per-source reciprocal-link profile over a DIRECTED edge set:
    (node, n_out, n_recip, recip_ppm) where ``n_out`` counts distinct
    out-neighbors of ``src_host``, ``n_recip`` counts those that link BACK, and
    ``recip_ppm = n_recip * 1e6 DIV n_out`` (exact integer parts per
    million). A near-1.0 reciprocal rate over a large out-set is the
    classic link-farm / link-exchange signature (organic linking is
    strongly asymmetric), so this is the first-pass spam-domain filter a
    link-graph curator runs before trusting PageRank/HITS scores.

    Scale shape: self-loops drop scan-side, the edge set dedupes on
    (s, t), and reciprocation is one LEFT SEMI self-join on the reversed
    key — the |host-pairs|-bounded frames shuffle, never the pages that
    produced them. Everything is JVM-side; works on any equi-joinable id
    type.
    """
    e = directed_edge_set(edges)
    recip = e.join(e.select(F.col("dst_host").alias("src_host"),
                            F.col("src_host").alias("dst_host")),
                   ["src_host", "dst_host"], "left_semi")
    n_out = e.groupBy(F.col("src_host").alias("node")).agg(
        F.count("*").alias("n_out"))
    n_rec = recip.groupBy(F.col("src_host").alias("node")).agg(
        F.count("*").alias("n_recip"))
    return (n_out.join(n_rec, "node", "left")
            .select("node", "n_out",
                    F.coalesce("n_recip", F.lit(0).cast("long"))
                    .alias("n_recip"))
            .filter(F.col("n_out") >= 1)
            .withColumn("recip_ppm",
                        F.expr("CAST(n_recip * 1000000 DIV n_out "
                               "AS BIGINT)")))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over the UNDIRECTED graph
    induced by a directed (src_host, dst_host) edge list — the classic
    link-community / spam-cluster density signal (link farms form
    near-cliques, so hosts with triangle counts far above their degree's
    expectation are the follow-up to a high reciprocal-link rate).

    Exact and deterministic: the triangle SET depends only on the edge
    set; counts are integers.

    Scale shape (the 100 TB part): wedges are enumerated under the
    standard DEGREE ORIENTATION (each undirected edge points from its
    (degree, id)-smaller endpoint to the larger; Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer", WWW'11), so
    a node generates wedges only from its HIGHER-ranked neighbors —
    max out-degree is O(sqrt(m)) and the wedge join never explodes on a
    celebrity node the way a plain id-ordered enumeration does. Three
    joins total (orient, wedge, close), all on narrow key frames; the
    orientation changes intermediate sizes only — the emitted triangle
    set (and so every count) is identical to the naive enumeration, which
    is what the SQL oracle uses.

    Returns (node, n_triangles BIGINT) for every node in >=1 triangle;
    ``node`` inherits the input id type.
    """
    und = undirected_edge_set(edges)
    deg = _degrees(und)
    # orientation key: (degree, id) — a total order, ties broken by id
    withd = (und
             .join(deg.select(F.col("n").alias("id_a"),
                              F.col("d").alias("da")), "id_a")
             .join(deg.select(F.col("n").alias("id_b"),
                              F.col("d").alias("db")), "id_b"))
    a, b = F.col("id_a"), F.col("id_b")
    ka = F.struct(F.col("da").alias("d"), a.alias("i"))
    kb = F.struct(F.col("db").alias("d"), b.alias("i"))
    oriented = _truncate(
        withd.select(
            F.when(ka < kb, a).otherwise(b).alias("u"),
            F.when(ka < kb, b).otherwise(a).alias("v"),
            F.when(ka < kb, kb).otherwise(ka).alias("vk")),
        eager=True)
    # wedge (u -> v, u -> w) with v before w in orientation order, then
    # close with the oriented edge v -> w (which exists iff {v,w} is an
    # edge, because the orientation is a total order)
    e1 = oriented.select("u", F.col("v").alias("w1"),
                         F.col("vk").alias("k1"))
    e2 = oriented.select("u", F.col("v").alias("w2"),
                         F.col("vk").alias("k2"))
    wedges = e1.join(e2, "u").filter(F.col("k1") < F.col("k2"))
    tri = wedges.join(
        oriented.select(F.col("u").alias("w1"), F.col("v").alias("w2")),
        ["w1", "w2"], "left_semi")
    corners = (tri.select(F.col("u").alias("node"))
               .union(tri.select(F.col("w1").alias("node")))
               .union(tri.select(F.col("w2").alias("node"))))
    return corners.groupBy("node").agg(
        F.count("*").alias("n_triangles"))


def kcore_nodes(edges: DataFrame, k: int = 3,
                max_peels: int = 20) -> DataFrame:
    """k-core of the UNDIRECTED graph induced by a directed (src_host,
    dst_host) edge list: the maximal subgraph where every node keeps
    degree >= k after everyone below the bar is (transitively) peeled
    away. The classic graph-trust filter on a web host graph — a host's
    raw degree is easily inflated by links to/from throwaway domains, but
    its k-core membership requires k neighbors that THEMSELVES survive
    the same bar, which link farms built from low-degree satellites fail.

    Exact and deterministic: the k-core is unique (independent of peel
    order), so any two engines agree; a fixed-unroll SQL oracle matches
    whenever it unrolls at least as many peels as convergence needs —
    extra peels are no-ops once the set is stable.

    Scale shape: each peel is one degree aggregate over the surviving
    edge set + two LEFT SEMI joins to drop edges touching peeled nodes
    — narrow (id, id) frames only, same per-round class as a label-
    propagation round. Convergence is a one-count driver decision per
    peel; lineage truncates per round. Peels needed is the degeneracy
    ordering depth, typically far below max_peels; raises if the bar is
    not reached by ``max_peels`` instead of returning a wrong set.

    Returns (node, core_degree BIGINT): the surviving nodes with their
    degree INSIDE the k-core; empty when the whole graph peels away.
    """
    e = _truncate(undirected_edge_set(edges), eager=True)
    for _ in range(max_peels):
        deg = _degrees(e)
        keep = deg.filter(F.col("d") >= k)
        # ONE action per peel (was deg.count() - keep.count(), two jobs
        # recomputing the degree aggregate each): at 100x round counts
        # the driver round-trip per peel halves.
        stats = deg.agg(
            F.count("*").alias("n_all"),
            F.sum((F.col("d") >= k).cast("long")).alias("n_keep")).first()
        n_drop = stats["n_all"] - (stats["n_keep"] or 0)
        if n_drop == 0:
            return keep.select(F.col("n").alias("node"),
                               F.col("d").cast("long")
                               .alias("core_degree"))
        e = _truncate(
            e.join(keep.select(F.col("n").alias("id_a")), "id_a",
                   "left_semi")
            .join(keep.select(F.col("n").alias("id_b")), "id_b",
                  "left_semi"),
            eager=True)
        if e.isEmpty():
            return keep.filter(F.lit(False)).select(
                F.col("n").alias("node"),
                F.col("d").cast("long").alias("core_degree"))
    raise RuntimeError(
        f"k-core did not stabilize in {max_peels} peels — raise max_peels")
