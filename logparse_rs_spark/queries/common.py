"""What the query families share: the fixture root and per-sf fixture
paths, the session-shared frames (parsed pages, documents, their
signatures, candidate pairs and components, embeddings), the bounded
availableNow stream run (``streaming.stream.run_available_now``), and the
tables the DuckDB oracles read.

Nothing here imports ``__spark_entry__``: the ``--py-files`` zip carries
this package alone.
"""

from __future__ import annotations

import functools
import os
import tempfile
from typing import NamedTuple

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logparse_rs_spark.anonymizer import load_anonymizer
from logparse_rs_spark.dataops_fixtures import (ENTRY_MAX_BUCKET,
                                                ensure_dataops_aux)
from logparse_rs_spark.fixtures import ensure_fixture_pair
from logparse_rs_spark.operators.dedup import (canonical_signatures,
                                               minhash_lsh_pairs,
                                               minhash_near_dup,
                                               minhash_signatures)
from logparse_rs_spark.operators.graph import connected_components
from logparse_rs_spark.operators.parse import parse_pages, project_type
from logparse_rs_spark.operators.text import _words
from logparse_rs_spark.plans.pipeline import DIMS
from logparse_rs_spark.schema import load_schema
from logparse_rs_spark.shared import shared
from logparse_rs_spark.streaming.stream import run_available_now

# the repo checkout holding schemas/, configs/ and .fixtures/
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

# pages-fixture size per scale factor (sf0.01 is the correctness gate)
SF_PAGES = {"sf0.001": 120, "sf0.01": 1000, "sf0.1": 12000}
ORACLE_SF = "sf0.01"
# micro-batch files the streaming dedup queries feed through availableNow
# triggers: each costs about a full trigger cycle, and 2 already prove
# cross-batch suppression (state survives a trigger boundary)
STREAM_BATCHES = 2


@functools.cache
def fixture_root() -> str:
    """Fixture/aux staging root. Default: `.fixtures/` in the repo —
    path-stable across processes so every consumer (oracle gate, pytest,
    bench) reuses one materialization. If the repo is mounted read-only
    (possible in a gate environment), fall back to a uid-stable tmp dir
    so oracle aux materialization still works; override with
    LPS_FIXTURE_ROOT."""
    env = os.environ.get("LPS_FIXTURE_ROOT")
    if env:
        os.makedirs(env, exist_ok=True)
        return env
    default = os.path.join(ROOT, ".fixtures")
    try:
        os.makedirs(default, exist_ok=True)
        probe = os.path.join(default, ".writable_probe")
        with open(probe, "w") as fh:
            fh.write("1")
        os.remove(probe)
        return default
    except OSError:
        alt = os.path.join(tempfile.gettempdir(),
                           f"lps_fixtures_uid{os.getuid()}")
        os.makedirs(alt, exist_ok=True)
        return alt


def sf_basename(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def _sf_tag(sf_dir: str) -> str:
    base = sf_basename(sf_dir)
    return base if base in SF_PAGES else ORACLE_SF


def _fixture_paths(sf_dir: str):
    n_pages = SF_PAGES[_sf_tag(sf_dir)]
    return ensure_fixture_pair(fixture_root(), n_pages, anonymized=True)


def _load():
    schema = load_schema(os.path.join(ROOT, "schemas", "schema.json"))
    anon = load_anonymizer(os.path.join(ROOT, "configs",
                                        "anonymizer.sample.json"))
    return schema, anon


def _per_file(fn):
    """Cache ``fn(path)`` on (path, mtime_ns, size), so a file rewritten
    at the same path is read again."""
    @functools.cache
    def at(path, mtime_ns, size):
        return fn(path)

    @functools.wraps(fn)
    def call(path):
        st = os.stat(path)
        return at(path, st.st_mtime_ns, st.st_size)
    return call


# ---- session-shared frames -------------------------------------------------

def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one parse per (session, fixture): the log_* queries share the
    # parsed frame instead of re-running the Python parse stage each
    schema, _ = _load()
    pages_path, _ = _fixture_paths(sf_dir)
    return shared(spark, "parsed", pages_path, lambda: parse_pages(
        spark.read.parquet(pages_path), schema).persist())


def _traffic(spark: SparkSession, sf_dir: str,
             anonymized: bool = False) -> DataFrame:
    schema, anon = _load()
    return project_type(_parsed(spark, sf_dir), schema, "TRAFFIC",
                        columns=DIMS, anon=anon if anonymized else None)


@_per_file
def _scan_meta(path: str) -> tuple:
    """(num_rows, num_row_groups) from the parquet footer — a
    driver-side metadata read, no Spark job."""
    md = pq.ParquetFile(path).metadata
    return md.num_rows, md.num_row_groups


def _par_parquet(spark, path: str, rows_per_task: int = 600):
    """Read a parquet table, restoring scan parallelism when the file
    layout cannot provide it. The testdata tables are single-file
    SINGLE-ROW-GROUP parquet, and a parquet split only produces work for
    the task holding a row-group midpoint — so the scan is ONE task no
    matter how small spark.sql.files.maxPartitionBytes is, and every
    scan-side projection/pandas UDF chained on it (minhash, simhash,
    winnowing, gopher, span explodes...) runs serially (guide §2.5,
    input skew: "one huge unsplittable file — repartition immediately
    after the read"). When the footer says the natural task count is
    below the session parallelism, round-robin repartition toward
    ~rows_per_task rows per task, capped at 2x parallelism so the
    exchange stays cheap. On production multi-file/multi-row-group
    layouts the natural count exceeds parallelism and this is a
    pass-through (no exchange added)."""
    df = spark.read.parquet(path)
    rows, row_groups = _scan_meta(path)
    dp = spark.sparkContext.defaultParallelism
    want = min(2 * dp, rows // rows_per_task)
    if row_groups < dp and want > row_groups:
        df = df.repartition(want)
    return df


def _docs(spark, sf_dir):
    return _par_parquet(spark, f"{sf_dir}/documents.parquet")


def _tok_docs(spark, sf_dir):
    # tokenize ONCE, share across the retrieval family (tf-idf, rank
    # fusion, inverted index, related pairs, doc pagerank): a persisted
    # (doc_id, text, words) frame — at scale this is the
    # tokenize-once-persist pattern that saves one corpus scan +
    # tokenization per downstream query
    path = f"{sf_dir}/documents.parquet"
    return shared(spark, "tok_docs", path, lambda: (
        _par_parquet(spark, path)
        .select("doc_id", "text", _words(F.col("text")).alias("words"))
        .persist()))


def _doc_sigs(spark, sf_dir):
    # minhash-signature-once: a persisted (doc_id, sig) frame shared
    # by every corpus-signature consumer (band pairs, dup components,
    # fuzzy incremental dedup) — the in-session stand-in for the
    # persisted corpus signature table a production dedup increment
    # reuses instead of re-running the signature UDF per job.
    return shared(spark, "doc_sigs", f"{sf_dir}/documents.parquet",
                  lambda: minhash_signatures(_docs(spark, sf_dir)).persist())


def _canon_sigs(spark, sf_dir):
    # the CANONICAL-doc signature table (exact-dedup survivors'
    # minhash): the second persisted signature frame of the session,
    # shared by the capped near-dup consumers (doc_near_dup_dedup,
    # doc_text_neardup_verified) exactly as _doc_sigs is shared by the
    # uncapped ones
    return shared(spark, "canon_sigs", f"{sf_dir}/documents.parquet",
                  lambda: canonical_signatures(
                      _docs(spark, sf_dir)).persist())


def _doc_pairs(spark, sf_dir):
    # LSH-band-pairs-once: the distinct cross-band candidate pair set
    # over the corpus signatures, persisted and session-shared by its
    # four consumers (the pair listing itself, the source rollup, the
    # containment verify, the component contraction)
    return shared(spark, "doc_pairs", f"{sf_dir}/documents.parquet",
                  lambda: minhash_lsh_pairs(_doc_sigs(spark, sf_dir),
                                            bands=16).persist())


def _canon_pairs(spark, sf_dir):
    # the capped canonical-doc candidate pair set, persisted and
    # shared by doc_near_dup_dedup + doc_text_neardup_verified (the
    # pair frame is each's common prefix)
    return shared(spark, "canon_pairs", f"{sf_dir}/documents.parquet",
                  lambda: minhash_near_dup(
                      _docs(spark, sf_dir), max_bucket=ENTRY_MAX_BUCKET,
                      canon_sigs=_canon_sigs(spark, sf_dir)).persist())


def _doc_components(spark, sf_dir):
    # the propagation result is a checkpointed frame — compute once
    # per (session, sf) and share between the cluster-derived queries.
    # Star contraction (O(log n) rounds on any graph shape) is the
    # at-scale path; at sf0.01 the edge list fits the `components`
    # collect gate, so the oracle gate runs the local numpy path and
    # only a `shared.BUDGET = 0` run reaches the star rounds
    return shared(spark, "doc_components", f"{sf_dir}/documents.parquet",
                  lambda: connected_components(_doc_pairs(spark, sf_dir)))


def _emb(spark, sf_dir):
    return _par_parquet(spark, f"{sf_dir}/embeddings.parquet")


@_per_file
def _vector_dim(path: str) -> int:
    # vector dimensionality from the parquet FOOTER + first batch via
    # pyarrow — no per-query Spark job
    batch = next(pq.ParquetFile(path)
                 .iter_batches(batch_size=1, columns=["embedding"]))
    return len(batch.column(0)[0])


def _emb_dim(sf_dir) -> int:
    return _vector_dim(f"{sf_dir}/embeddings.parquet")


# ---- oracle inputs ---------------------------------------------------------

class OracleTables(NamedTuple):
    """The inputs of the oracle SQL at ``ORACLE_SF``: ``read_parquet(...)``
    sources of the refimpl expected parse output (``E``) and of the
    dataops aux tables (dataops_fixtures.ensure_dataops_aux), and the
    plain path of the pages fixture."""
    E: str
    pages_path: str
    DOC_AUX: str
    EMB_BANDS: str
    EMB_CELLS: str
    EMB_PROBES: str
    TOK_BUCKETS: str
    BATCH_AUX: str
    IMG_AUX: str


def oracle_tables(testdata_sf_dir: str) -> OracleTables:
    pages_path, exp = _fixture_paths(ORACLE_SF)
    aux = ensure_dataops_aux(fixture_root(), testdata_sf_dir)

    def rp(path):
        return f"read_parquet('{path}')"
    return OracleTables(
        E=rp(exp), pages_path=pages_path, DOC_AUX=rp(aux["doc_aux"]),
        EMB_BANDS=rp(aux["emb_bands"]), EMB_CELLS=rp(aux["emb_cells"]),
        EMB_PROBES=rp(aux["emb_probes"]), TOK_BUCKETS=rp(aux["tok_buckets"]),
        BATCH_AUX=rp(aux["batch_aux"]), IMG_AUX=rp(aux["img_aux"]))
