"""Similarity search over an embedding column (array<float>).

- brute_force_topk : exact cosine top-k per query — the correctness baseline.
  Dot products run in ONE Arrow-batched numpy matmul per partition against a
  broadcast query matrix; top-k per query via the row_number window of
  behavior.top_n_per_group.
- lsh_topk         : random-hyperplane (signed projection) LSH buckets as the
  scale path — candidates share >=1 hyperplane-band bucket, then exact cosine
  re-rank on candidates only. At 10^12 rows the bucket join replaces the
  all-pairs scan; buckets are hash-uniform.

The query set is assumed small (broadcastable) — the standard ANN serving
shape. Both return (query_id, vec_id, cos_sim, rank).
"""

from __future__ import annotations

from typing import Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..shared import collect_if_fits
from .behavior import top_n_per_group

# the sketch constants the operators and the oracle aux build
# (dataops_fixtures) share: hyperplane-LSH planes and seed, the LSH
# bands of lsh_topk and of neardup_pairs, and the IVF k-means seed,
# rounds and training-sample size
LSH_N_PLANES = 32
LSH_SEED = 13
TOPK_BANDS = 8
NEARDUP_BANDS = 16
IVF_SEED = 17
IVF_ITERS = 5
IVF_SAMPLE_ROWS = 4096


def _vec_matrix(vecs: "pd.Series") -> np.ndarray:
    """(rows, dim) float64 matrix from an Arrow list column. np.stack over
    the per-row numpy arrays — no Python-list round trip; float32 -> float64
    widening is IEEE-exact either way, so values are identical to the old
    np.array(series.tolist(), dtype=float64) form, measured ~10x cheaper on
    wide batches."""
    if len(vecs) == 0:
        return np.zeros((0, 0), dtype=np.float64)
    return np.stack(vecs.to_numpy()).astype(np.float64, copy=False)


def _unit_rows(vm: np.ndarray) -> np.ndarray:
    """vm with every row scaled to unit L2 norm; an all-zero row stays
    zero (its cosine to anything is 0)."""
    norms = np.linalg.norm(vm, axis=1)
    norms[norms == 0] = 1.0
    return vm / norms[:, None]


def _collect_queries(queries: DataFrame) -> Tuple[np.ndarray, np.ndarray]:
    rows = queries.select("query_id", "embedding").collect()
    qids = np.array([r["query_id"] for r in rows], dtype=np.int64)
    qm = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return qids, _unit_rows(qm)


def cosine_scores(vectors: DataFrame, queries: DataFrame) -> DataFrame:
    """(query_id, vec_id, cos_sim) for every (query, vector) pair, computed
    as a per-batch numpy matmul against the broadcast query matrix."""
    qids, qmat = _collect_queries(queries)
    n_q = len(qids)

    schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
    ])

    def score(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            sims = _unit_rows(_vec_matrix(pdf["embedding"])) @ qmat.T
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame({
                "query_id": np.repeat(qids, len(ids)),
                "vec_id": np.tile(ids, n_q),
                "cos_sim": sims.T.reshape(-1),
            })

    return (vectors.select("vec_id", "embedding")
            .mapInPandas(score, schema=schema))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The k best (query_id, vec_id, cos_sim) rows per query, ranked
    (cos_sim desc, vec_id asc), cos_sim rounded to 6 places after ranking."""
    return (top_n_per_group(scored, ["query_id"], "cos_sim", k, "vec_id")
            .withColumn("cos_sim", F.round("cos_sim", 6)))


def brute_force_topk(vectors: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact cosine top-5 per query; ties break (cos desc, vec_id asc)."""
    return _top_k(cosine_scores(vectors, queries), 5)


def _rerank(cands: DataFrame, k: int) -> DataFrame:
    """Exact cosine of each (query_id, vec_id, v_vec, q_vec) candidate row,
    JVM-side higher-order functions (0.0 when either vector is all-zero),
    then the top k per query."""
    dot = F.aggregate(F.zip_with("v_vec", "q_vec", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    scored = cands.withColumn(
        "cos_sim",
        F.when((norm(F.col("v_vec")) == 0) | (norm(F.col("q_vec")) == 0), 0.0)
        .otherwise(dot / (norm(F.col("v_vec")) * norm(F.col("q_vec")))))
    return _top_k(scored.select("query_id", "vec_id", "cos_sim"), k)


def hyperplane_planes(dim: int) -> np.ndarray:
    """The fixed random hyperplane matrix — seeded, deterministic across
    runs and engines (shared by the Spark path and the oracle refimpl)."""
    rng = np.random.default_rng(LSH_SEED)
    return rng.standard_normal((LSH_N_PLANES, dim))


def hyperplane_sig_np(vm: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Sign-bit signatures for a (rows, dim) float64 matrix, as int64."""
    bits = (vm @ planes.T) > 0                         # (rows, n_planes)
    weights = (np.uint64(1) << np.arange(planes.shape[0], dtype=np.uint64))
    return (bits.astype(np.uint64) @ weights).view(np.int64)


def hyperplane_signatures(vectors: DataFrame, dim: int) -> DataFrame:
    """Sign-bit signature per vector under LSH_N_PLANES fixed random
    hyperplanes (seeded — deterministic across runs and engines)."""
    planes = hyperplane_planes(dim)

    @F.pandas_udf(T.LongType())
    def sig(vecs: pd.Series) -> pd.Series:
        vm = _vec_matrix(vecs)
        return pd.Series(hyperplane_sig_np(vm, planes), index=vecs.index)

    return vectors.withColumn("lsh_sig", sig(F.col("embedding")))


def _hyperplane_bands(vectors: DataFrame, id_col: str, dim: int,
                      bands: int) -> DataFrame:
    """(id_col, embedding, band, bucket): one row per band of each vector's
    hyperplane signature, the bucket being that band's
    LSH_N_PLANES // bands signature bits."""
    width = LSH_N_PLANES // bands
    mask = (1 << width) - 1
    return hyperplane_signatures(vectors, dim).select(
        F.col(id_col), F.col("embedding"),
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("lsh_sig"), i * width)
            .bitwiseAND(F.lit(mask))
            for i in range(bands)
        ])).alias("band", "bucket"),
    )


def ivf_assign(vectors: DataFrame, centroids: "np.ndarray") -> DataFrame:
    """Assign each vector to its nearest (cosine) centroid cell — the IVF
    partitioning step. Centroids are a small driver-side matrix captured by
    the UDF (broadcast-by-closure)."""
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        vm = _vec_matrix(vecs)
        return pd.Series(assign_cells_np(vm, cn), index=vecs.index)

    return vectors.withColumn("ivf_cell", assign(F.col("embedding")))


def kmeans_cells(x: np.ndarray, n_cells: int) -> np.ndarray:
    """Deterministic spherical mini k-means over a (rows, dim) matrix of
    already-normalized vectors — shared by the Spark trainer and the oracle
    refimpl."""
    rng = np.random.default_rng(IVF_SEED)
    cents = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(IVF_ITERS):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return cents


def assign_cells_np(vm: np.ndarray, cn: np.ndarray) -> np.ndarray:
    """Nearest-centroid (cosine) cell per row of vm; cn pre-normalized."""
    return (_unit_rows(vm) @ cn.T).argmax(axis=1).astype("int32")


def probe_cells_np(vm: np.ndarray, cn: np.ndarray, n_probe: int) -> np.ndarray:
    """(rows, n_probe) nearest cells per query row; cn pre-normalized."""
    sims = _unit_rows(vm) @ cn.T
    return np.argsort(-sims, axis=1)[:, :n_probe].astype("int32")


def train_ivf_centroids(vectors: DataFrame,
                        n_cells: int = 16) -> "np.ndarray":
    """Deterministic mini k-means on an id-keyed sample (collected to the
    driver — at 10^12 scale you train on a fixed-size sample regardless of
    table size, so this stays O(sample)).

    Sampling is input-deterministic and engine-replicable: the first
    IVF_SAMPLE_ROWS by id via TakeOrdered (no full-table sort)."""
    sample = (vectors.select("vec_id", "embedding").orderBy("vec_id")
              .limit(IVF_SAMPLE_ROWS).collect())
    x = np.array([r["embedding"] for r in sample], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return kmeans_cells(x, n_cells)


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
             n_cells: int = 16, n_probe: int = 3) -> DataFrame:
    """IVF ANN: vectors partitioned into centroid cells; each query probes
    its n_probe nearest cells and exact-reranks only those vectors. The
    cell equi-join replaces the all-pairs scan (the scale path alongside
    lsh_topk; recall grows with n_probe)."""
    centroids = train_ivf_centroids(vectors, n_cells)
    assigned = ivf_assign(vectors, centroids).alias("v")

    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vecs: pd.Series) -> pd.Series:
        vm = _vec_matrix(vecs)
        order = probe_cells_np(vm, cn, n_probe)
        return pd.Series([row.tolist() for row in order], index=vecs.index)

    q = (queries.withColumn("ivf_cell",
                            F.explode(probe_cells(F.col("embedding"))))
         .select(F.col("query_id"), F.col("embedding").alias("q_vec"),
                 "ivf_cell").alias("q"))
    cands = (assigned.join(F.broadcast(q), "ivf_cell")
             .select(F.col("query_id"), F.col("v.vec_id").alias("vec_id"),
                     F.col("v.embedding").cast("array<double>")
                     .alias("v_vec"),
                     F.col("q_vec").cast("array<double>").alias("q_vec"))
             .dropDuplicates(["query_id", "vec_id"]))
    return _rerank(cands, k)


_PAIR_SCHEMA = T.StructType([
    T.StructField("id_a", T.LongType()),
    T.StructField("id_b", T.LongType()),
    T.StructField("cos_sim", T.DoubleType()),
])


def _neardup_pairs_broadcast(vectors: DataFrame, dim: int, threshold: float):
    """Broadcast-matrix fast path for neardup_pairs, or None when the
    vector set exceeds the broadcast budget.

    The banded plan shuffles every embedding once PER BAND (guide §2.3:
    the exchange carries the heavy payload `bands` times so a few bytes of
    bucket key can be grouped on), and applyInPandas re-inflates the
    vector column into numpy per group. When the whole (rows, dim) matrix
    fits the driver-collect budget (shared.collect_if_fits, sized by the
    broadcast row: 8 B id + 8 B signature + dim x (8 B float64 + 4 B
    float32)), each band is instead an independent numpy task over the
    broadcast matrix: zero embedding shuffle, bucket slicing by signature
    bits, and only surviving pairs leave the task. Identical output: same
    candidate set (pairs sharing >= 1 band bucket), same exact-float64
    cosine, same final min/round dedup. A float32 coarse gate only
    PRE-SELECTS candidates; every emitted score is exact float64, and the
    gate cannot drop a true pair because its margin, max(1e-3, dim *
    2^-20), covers the f32 matmul error bound of ~dim * 2^-20 on unit
    vectors."""
    head = collect_if_fits(vectors.select("vec_id", "embedding"), "neardup",
                           row_bytes=16 + 12 * dim)
    if head is None:
        return None
    spark = vectors.sparkSession
    width = LSH_N_PLANES // NEARDUP_BANDS
    mask = (1 << width) - 1
    ids = head.column(0).to_numpy().astype(np.int64, copy=False)
    vm = (head.column(1).combine_chunks().flatten().to_numpy()
          .astype(np.float64).reshape(head.num_rows, dim))
    sigs = hyperplane_sig_np(vm, hyperplane_planes(dim))
    vn = _unit_rows(vm)
    bc = spark.sparkContext.broadcast(
        (ids, vn, vn.astype(np.float32), sigs.view(np.uint64)))
    coarse = threshold - max(1e-3, dim * 2**-20)

    def score_bands(pdfs):
        b_ids, b_vn, b_vn32, b_usigs = bc.value
        for pdf in pdfs:
            for band in pdf["id"].tolist():
                buckets = (b_usigs >> np.uint64(band * width)) \
                    & np.uint64(mask)
                for v in range(mask + 1):
                    idx = np.nonzero(buckets == np.uint64(v))[0]
                    if len(idx) < 2:
                        continue
                    sub32 = b_vn32[idx]
                    ia, ib = np.nonzero(sub32 @ sub32.T >= coarse)
                    up = ia < ib
                    ia, ib = idx[ia[up]], idx[ib[up]]
                    cos = np.einsum("ij,ij->i", b_vn[ia], b_vn[ib])
                    keep = cos >= threshold
                    ia, ib, cos = ia[keep], ib[keep], cos[keep]
                    yield pd.DataFrame({
                        "id_a": np.minimum(b_ids[ia], b_ids[ib]),
                        "id_b": np.maximum(b_ids[ia], b_ids[ib]),
                        "cos_sim": cos,
                    })

    pairs = (spark.range(0, NEARDUP_BANDS, 1, numPartitions=NEARDUP_BANDS)
             .mapInPandas(score_bands, schema=_PAIR_SCHEMA))
    return (pairs.groupBy("id_a", "id_b")
            .agg(F.round(F.min("cos_sim"), 6).alias("cos_sim")))


def neardup_pairs(vectors: DataFrame, dim: int,
                  threshold: float = 0.35) -> DataFrame:
    """Embedding near-duplicate pairs >= cosine threshold, as the composed
    scale plan: hyperplane-LSH band-bucket candidate self-join -> exact
    cosine verify. Replaces the all-pairs cross product with an equi-join on
    (band, bucket); only bucket-colliding pairs are scored.

    Recall is a (banding, threshold, data) property: a pair at angle theta
    collides in one band with p = (1 - theta/pi)^(n_planes/bands). The
    width-2 bands (LSH_N_PLANES / NEARDUP_BANDS) are tuned for LOW
    thresholds; real near-dup dedup (threshold >= 0.8) wants wider bands
    (e.g. 8 bands, width 4) where the same code prunes hard. The
    correctness gate proves the composition exact at the configured
    threshold against a DuckDB all-pairs oracle.
    """
    bc_pairs = _neardup_pairs_broadcast(vectors, dim, threshold)
    if bc_pairs is not None:
        return bc_pairs
    banded = _hyperplane_bands(vectors, "vec_id", dim, NEARDUP_BANDS)

    # score INSIDE each bucket with one numpy matmul (applyInPandas per
    # (band, bucket) group) instead of joining 10^7s of candidate rows and
    # folding per-pair: the >=threshold survivors are the only rows that
    # ever leave the bucket. Per-group memory is O(bucket_size * dim) — at
    # 10^12 rows pair this with a bucket-size cap (see dedup.max_bucket).
    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        vn = _unit_rows(_vec_matrix(pdf["embedding"]))
        sims = vn @ vn.T
        # indices of >=threshold upper-triangle entries directly: for a
        # c-member bucket, triu_indices materialized c*(c-1)/2 index pairs
        # (hundreds of MB at c~5000) regardless of how few survive
        ia, ib = np.nonzero(np.triu(sims >= threshold, k=1))
        id_a = np.minimum(ids[ia], ids[ib])
        id_b = np.maximum(ids[ia], ids[ib])
        return pd.DataFrame({"id_a": id_a, "id_b": id_b,
                             "cos_sim": sims[ia, ib]})

    pairs = (banded.groupBy("band", "bucket")
             .applyInPandas(score_bucket, schema=_PAIR_SCHEMA))
    # a pair can surface from several bands; cos_sim is identical each time
    return (pairs.groupBy("id_a", "id_b")
            .agg(F.round(F.min("cos_sim"), 6).alias("cos_sim")))


def semdedup(vectors: DataFrame, threshold: float = 0.35, n_cells: int = 8,
             max_cell: int = 200_000) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space into k-means cells,
    then WITHIN each cell greedily keep the first vector (by id) of every
    cosine >= threshold neighborhood — a vector is dropped iff it is
    >= threshold similar to an already-KEPT earlier id (so of a~b~c chains
    with a!~c, b drops but a and c both survive; a plain
    "drop-if-any-earlier-neighbor" rule would differ on exactly those
    chains, and the tests pin the distinction). Returns the survivor set
    as (id, ivf_cell) — all-integer output, no float surface.

    Scale shape: the cross-cell all-pairs problem never materializes —
    comparisons happen only inside a cell, one applyInPandas group per
    cell, embarrassingly parallel across cells. Per-cell work is
    O(cell_size * kept) vectorized dot products; cells are bounded by
    construction (n_cells scales with the corpus: the SemDeDup paper runs
    ~10^4-10^5 clusters at web scale so cells stay ~10^4 rows). `max_cell`
    fails fast instead of silently thrashing when the clustering collapses
    (mirrors dedup.max_bucket's contract); the fix at scale is more cells,
    not a bigger cap. Centroid training collects a fixed-size id-ordered
    sample (train_ivf_centroids) — O(sample) regardless of table size."""
    assigned = ivf_assign(vectors, train_ivf_centroids(vectors, n_cells))

    out_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("ivf_cell", T.IntegerType()),
    ])

    def keep_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_cell:
            raise ValueError(
                f"semdedup cell {int(pdf['ivf_cell'].iloc[0])} has {n} "
                f"rows > max_cell={max_cell}; raise n_cells so cells stay "
                "bounded (the greedy scan is O(cell * kept))")
        pdf = pdf.sort_values("vec_id", kind="mergesort")
        vn = _unit_rows(_vec_matrix(pdf["embedding"]))
        kept: list[int] = []
        for i in range(n):
            if not kept or (vn[kept] @ vn[i] < threshold).all():
                kept.append(i)
        return pd.DataFrame({
            "vec_id": pdf["vec_id"].to_numpy()[kept],
            "ivf_cell": pdf["ivf_cell"].to_numpy()[kept],
        })

    return (assigned.select("vec_id", "embedding", "ivf_cell")
            .groupBy("ivf_cell").applyInPandas(keep_cell, schema=out_schema))


def lsh_topk(vectors: DataFrame, queries: DataFrame, dim: int) -> DataFrame:
    """ANN top-5: hyperplane-LSH band buckets -> candidate set -> exact
    cosine re-rank. Recall grows with bands; candidates per query stay
    ~bucket-sized instead of the full table."""
    v = _hyperplane_bands(vectors, "vec_id", dim, TOPK_BANDS).alias("v")
    q = _hyperplane_bands(queries, "query_id", dim, TOPK_BANDS).alias("q")
    cands = (
        v.join(F.broadcast(q), (F.col("v.band") == F.col("q.band"))
               & (F.col("v.bucket") == F.col("q.bucket")))
        .select(F.col("q.query_id").alias("query_id"),
                F.col("v.vec_id").alias("vec_id"),
                F.col("v.embedding").cast("array<double>").alias("v_vec"),
                F.col("q.embedding").cast("array<double>").alias("q_vec"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    return _rerank(cands, 5)


def kmeans_assign_exact(vectors: DataFrame, k: int = 8) -> DataFrame:
    """Lloyd's k-means assignment in EXACT INTEGER arithmetic — the
    cluster-then-curate step of embedding-space corpus work (SemDeDup
    cells, D4-style cluster-balanced sampling, topic bucketing), expressed
    so the result is bit-identical on any engine (the oracle-checkable
    correctness spec for the Arrow/numpy production path, train_ivf_
    centroids + ivf_assign above).

    Determinism contract: dimensions quantize scan-side via
    FLOOR(float64(x) * scale), scale = 1e6 (float32 -> float64 widening and the
    multiply are IEEE-exact, so both engines floor the same double);
    distances are BIGINT sums of squared integer deltas; centroid updates
    are exact floored integer means (s - pmod(s, n)) DIV n — no float
    division anywhere, ties broken by (distance, centroid id). Seeds =
    the k smallest ids' vectors. A centroid that loses every point drops
    out (deterministically, both engines).

    Overflow bound: per-dim delta <= 2 * scale * max|x|; the distance sum
    needs dim * (2 * scale * max|x|)^2 < 2^63 — unit-norm embeddings at
    scale=1e6, dim=64 use ~2.6e14, five orders inside the bound.

    Scale shape: the vector table explodes once to (id, dim, q) long form
    and persists; each iteration is one broadcast join against the
    k*dim-row centroid table, one (id, c)-keyed partial-agg distance sum,
    one min_by argmin, one (c, dim)-keyed mean — all map-side-combining
    hash aggs, no corpus-sized shuffle beyond the long-form key. The
    k*dim join multiplier prices this for k <= ~100 analysis clustering;
    for k in the thousands use the vectorized ivf_assign path.

    Returns (vec_id, cluster BIGINT) after 2 assignment rounds (centroids
    update between rounds, not after the last).
    """
    v = (vectors.select(F.col("vec_id").alias("_id"),
                        F.posexplode(F.col("embedding")).alias("_i", "_x"))
         .select("_id", "_i",
                 F.floor(F.col("_x").cast("double") * F.lit(1_000_000))
                 .cast("bigint").alias("_v"))
         .persist())
    seeds = (vectors.select(F.col("vec_id").alias("_id"))
             .orderBy("_id").limit(k))
    cent = (v.join(F.broadcast(seeds), "_id")
            .select(F.col("_id").alias("_c"), "_i",
                    F.col("_v").alias("_cv")))
    assign = None
    for r in range(2):
        d2 = (F.col("_v") - F.col("_cv")) * (F.col("_v") - F.col("_cv"))
        dist = (v.join(F.broadcast(cent), "_i")
                .select("_id", "_c", d2.alias("_d2"))
                .groupBy("_id", "_c").agg(F.sum("_d2").alias("_dist")))
        assign = (dist.groupBy("_id")
                  .agg(F.min(F.struct("_dist", "_c")).alias("_m"))
                  .select("_id", F.col("_m._c").alias("_c")))
        if r == 0:
            cent = (v.join(assign, "_id")
                    .groupBy("_c", "_i")
                    .agg(F.sum("_v").alias("_s"), F.count("*").alias("_n"))
                    .select("_c", "_i",
                            F.expr("(_s - pmod(_s, _n)) DIV _n")
                            .cast("bigint").alias("_cv")))
    return assign.select(F.col("_id").alias("vec_id"),
                         F.col("_c").alias("cluster"))
