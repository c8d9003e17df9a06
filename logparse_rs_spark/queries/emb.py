"""Embedding and image queries over ``embeddings.parquet`` and the image
fixture: exact, LSH and IVF top-k, near-duplicate pairs and clusters,
SemDeDup, integer k-means and perceptual-hash candidates, with their
DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import functions as F

from logparse_rs_spark.dataops_fixtures import (ENTRY_MAX_BUCKET, IVF_N_CELLS,
                                                IVF_N_PROBE, N_QUERIES,
                                                ensure_images_fixture)
from logparse_rs_spark.operators.dedup import simhash_candidates
from logparse_rs_spark.operators.graph import dup_clusters
from logparse_rs_spark.operators.multimodal import image_ahash
from logparse_rs_spark.operators.similarity import (brute_force_topk, ivf_topk,
                                                    kmeans_assign_exact,
                                                    lsh_topk, neardup_pairs,
                                                    semdedup)

from .common import OracleTables, _emb, _emb_dim, _par_parquet, fixture_root


def _query_vectors(emb):
    # the top-k queries' query set: the first N_QUERIES vectors
    return (emb.filter(f"vec_id < {N_QUERIES}")
            .select(F.col("vec_id").alias("query_id"), "embedding"))


def emb_bruteforce_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return brute_force_topk(emb, _query_vectors(emb))


def emb_lsh_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return lsh_topk(emb, _query_vectors(emb), dim=_emb_dim(sf_dir))


def emb_ivf_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return ivf_topk(emb, _query_vectors(emb), k=5, n_cells=IVF_N_CELLS,
                    n_probe=IVF_N_PROBE)


def emb_neardup_pairs(spark, sf_dir):
    # composed scale plan: LSH band-bucket candidate join -> exact cosine
    # verify; checked against the DuckDB ALL-PAIRS oracle, proving the
    # bucketed plan returns the exact >=threshold answer on this data
    emb = _emb(spark, sf_dir)
    return neardup_pairs(emb, dim=_emb_dim(sf_dir), threshold=0.35)


def emb_semdedup(spark, sf_dir):
    # SemDeDup (arXiv:2303.09540): k-means cells + greedy keep-first-
    # by-id within each cell on the cosine>=0.35 graph. All-integer
    # survivor output; cell training mirrors emb_ivf_topk's params so
    # the oracle can reuse the refimpl cell-assignment aux parquet.
    return semdedup(_emb(spark, sf_dir), threshold=0.35,
                    n_cells=IVF_N_CELLS)


def emb_dup_clusters(spark, sf_dir):
    # embedding-space duplicate GROUPS: cosine near-dup pairs ->
    # star-contraction transitive closure -> per-cluster sizes (the
    # semantic-dedup endgame, mirroring doc_dup_clusters over text)
    return dup_clusters(
        emb_neardup_pairs(spark, sf_dir).select("id_a", "id_b"))


def emb_kmeans_assign(spark, sf_dir):
    # Lloyd's k-means in exact integer arithmetic (quantize -> BIGINT
    # distances -> floored-integer centroid means): 2 assignment
    # rounds, k=8, seeds = 8 smallest vec_ids. The relational spec of
    # the numpy IVF path, oracle-checked bit-for-bit.
    return kmeans_assign_exact(_emb(spark, sf_dir), k=8)


def img_neardup_candidates(spark, sf_dir):
    # multimodal near-dup, oracle-checked end to end: RAW8 image bytes
    # -> perceptual average-hash (Arrow-batched, pixels never shuffle)
    # -> 16-bit-chunk Hamming banding (simhash_candidates unchanged —
    # both are 64-bit keys). Images are the deterministic cluster
    # fixture from dataops_fixtures; the oracle bands the SAME-kernel
    # precomputed hashes in SQL.
    imgs = _par_parquet(spark,
                        ensure_images_fixture(fixture_root(), sf_dir),
                        rows_per_task=3000)
    ah = image_ahash(imgs).withColumnRenamed("ahash", "simhash")
    return simhash_candidates(ah, max_bucket=ENTRY_MAX_BUCKET)


def oracle_sql(t: OracleTables) -> dict[str, str]:
    EMB_BANDS, EMB_CELLS = t.EMB_BANDS, t.EMB_CELLS
    EMB_PROBES, IMG_AUX = t.EMB_PROBES, t.IMG_AUX
    d = {
        "emb_bruteforce_topk": """
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
            q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 3)
            SELECT q.query_id, v.vec_id,
                   round(list_cosine_similarity(v.e, q.qe), 6) AS cos_sim,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY list_cosine_similarity(v.e, q.qe) DESC,
                              v.vec_id ASC) AS rank
            FROM v CROSS JOIN q
            QUALIFY rank <= 5
        """,
        "emb_lsh_topk": f"""
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
                       FROM embeddings),
            vb AS (SELECT vec_id, band, bucket FROM {EMB_BANDS}),
            qb AS (SELECT vec_id AS query_id, band, bucket
                   FROM {EMB_BANDS} WHERE vec_id < 3),
            cand AS (
              SELECT DISTINCT qb.query_id, vb.vec_id
              FROM vb JOIN qb ON vb.band = qb.band AND vb.bucket = qb.bucket
            ),
            scored AS (
              SELECT c.query_id, c.vec_id,
                     list_cosine_similarity(a.e, b.e) AS cs
              FROM cand c
              JOIN v a ON a.vec_id = c.query_id
              JOIN v b ON b.vec_id = c.vec_id
            )
            SELECT query_id, vec_id, round(cs, 6) AS cos_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cs DESC, vec_id ASC) AS rank
            FROM scored QUALIFY rank <= 5
        """,
        "emb_ivf_topk": f"""
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
                       FROM embeddings),
            cand AS (
              SELECT DISTINCT p.query_id, c.vec_id
              FROM {EMB_CELLS} c
              JOIN {EMB_PROBES} p ON c.ivf_cell = p.ivf_cell
            ),
            scored AS (
              SELECT c.query_id, c.vec_id,
                     list_cosine_similarity(a.e, b.e) AS cs
              FROM cand c
              JOIN v a ON a.vec_id = c.query_id
              JOIN v b ON b.vec_id = c.vec_id
            )
            SELECT query_id, vec_id, round(cs, 6) AS cos_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cs DESC, vec_id ASC) AS rank
            FROM scored QUALIFY rank <= 5
        """,
        "emb_neardup_pairs": """
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.e, b.e) >= 0.35
        """,
        # SemDeDup greedy survivor set: the recursive CTE replays the
        # keep-first-by-id rule one row at a time per cell — a row is kept
        # iff none of its earlier >=threshold neighbors made the kept list
        # (NOT merely "has an earlier neighbor": a~b~c chains keep a AND c).
        # Cell assignments come from the refimpl aux parquet (same numpy
        # kernels as the Spark UDFs); cosine is DuckDB's own.
        "emb_semdedup": f"""
            WITH RECURSIVE
            v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
            cj AS (SELECT c.vec_id, c.ivf_cell, v.e,
                          row_number() OVER (PARTITION BY c.ivf_cell
                                             ORDER BY c.vec_id) AS rn
                   FROM {EMB_CELLS} c JOIN v USING (vec_id)),
            p AS (SELECT a.ivf_cell, a.vec_id AS id_lo, b.vec_id AS id_hi
                  FROM cj a JOIN cj b
                    ON a.ivf_cell = b.ivf_cell AND a.vec_id < b.vec_id
                  WHERE list_cosine_similarity(a.e, b.e) >= 0.35),
            nb AS (SELECT cj.ivf_cell, cj.rn, cj.vec_id,
                          list(p.id_lo)
                            FILTER (WHERE p.id_lo IS NOT NULL) AS nbrs
                   FROM cj LEFT JOIN p
                     ON p.ivf_cell = cj.ivf_cell AND p.id_hi = cj.vec_id
                   GROUP BY cj.ivf_cell, cj.rn, cj.vec_id),
            g AS (
              SELECT ivf_cell, 0 AS rn, []::BIGINT[] AS kept
              FROM cj GROUP BY ivf_cell
              UNION ALL
              SELECT g.ivf_cell, n.rn,
                     CASE WHEN n.nbrs IS NULL
                               OR len(list_intersect(n.nbrs, g.kept)) = 0
                          THEN list_append(g.kept, n.vec_id)
                          ELSE g.kept END
              FROM g JOIN nb n
                ON n.ivf_cell = g.ivf_cell AND n.rn = g.rn + 1),
            fin AS (SELECT ivf_cell, kept,
                           row_number() OVER (PARTITION BY ivf_cell
                                              ORDER BY rn DESC) AS rr
                    FROM g)
            SELECT unnest(kept) AS vec_id, ivf_cell
            FROM fin WHERE rr = 1
        """,
        # k-means in exact integer arithmetic, 2 unrolled Lloyd's rounds:
        # FLOOR(float64 * 1e6) quantization, BIGINT squared-delta
        # distances, floored-integer centroid means — bit-identical to
        # the Spark plan (kmeans_assign_exact docstring has the bounds).
        "emb_kmeans_assign": """
            WITH v AS (
              SELECT vec_id AS id, g.i AS i,
                     CAST(FLOOR(CAST(embedding[g.i] AS DOUBLE) * 1000000)
                          AS BIGINT) AS val
              FROM embeddings, generate_series(1, 64) AS g(i)
            ),
            seeds AS (SELECT vec_id AS c FROM embeddings
                      ORDER BY vec_id LIMIT 8),
            c0 AS (SELECT s.c, v.i, v.val AS cv
                   FROM v JOIN seeds s ON v.id = s.c),
            d1 AS (SELECT v.id, c0.c,
                          SUM((v.val - c0.cv) * (v.val - c0.cv)) AS dist
                   FROM v JOIN c0 USING (i) GROUP BY v.id, c0.c),
            a1 AS (SELECT id, c FROM (
                     SELECT id, c, ROW_NUMBER() OVER (
                       PARTITION BY id ORDER BY dist, c) AS rn
                     FROM d1) WHERE rn = 1),
            m1 AS (SELECT a1.c, v.i, SUM(v.val) AS s, COUNT(*) AS n
                   FROM v JOIN a1 USING (id) GROUP BY a1.c, v.i),
            c1 AS (SELECT c, i,
                          (s - ((s % n) + n) % n) // n AS cv FROM m1),
            d2 AS (SELECT v.id, c1.c,
                          SUM((v.val - c1.cv) * (v.val - c1.cv)) AS dist
                   FROM v JOIN c1 USING (i) GROUP BY v.id, c1.c),
            a2 AS (SELECT id, c FROM (
                     SELECT id, c, ROW_NUMBER() OVER (
                       PARTITION BY id ORDER BY dist, c) AS rn
                     FROM d2) WHERE rn = 1)
            SELECT id AS vec_id, CAST(c AS BIGINT) AS cluster FROM a2
        """,
    }
    # embedding duplicate clusters: recursive closure over the near-dup
    # pair oracle (the pair CTE is the emb_neardup_pairs oracle verbatim)
    d["emb_dup_clusters"] = f"""
        WITH RECURSIVE p AS ({d["emb_neardup_pairs"]}),
        edges AS (SELECT id_a AS a, id_b AS b FROM p
                  UNION SELECT id_b, id_a FROM p),
        nodes AS (SELECT DISTINCT a AS id FROM edges),
        reach(id, r) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
        ),
        comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        sizes AS (SELECT component, COUNT(*) AS cluster_size
                  FROM comp GROUP BY component)
        SELECT c.id, c.component, s.cluster_size
        FROM comp c JOIN sizes s USING (component)
    """
    # image near-dup: Hamming banding over aHash values precomputed by the
    # SAME numpy kernel the Spark pandas UDF calls (ahash_batch); the
    # arithmetic >> is masked so it equals Spark's unsigned shift
    d["img_neardup_candidates"] = f"""
        WITH c AS (
          SELECT doc_id, ahash, i AS chunk_idx,
                 (ahash >> (i*16)) & 65535 AS chunk_val
          FROM {IMG_AUX}
          CROSS JOIN (SELECT unnest(range(4)) AS i)
        )
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
               bit_count(xor(l.ahash, r.ahash))::INT AS hamming
        FROM c l JOIN c r
          ON l.chunk_idx = r.chunk_idx AND l.chunk_val = r.chunk_val
             AND l.doc_id < r.doc_id
    """
    return d
