"""Driver-contract shape tests (no Spark session needed).

The driver's correctness gate checks the FIRST 50 entries of
``queries()`` (CORRECTNESS_r04 was exactly the first 50 of the r4 dict),
so dict ORDER is part of the contract: the queries CORRECTNESS_r04 never
reached come first. These pins fail if a refactor silently reorders,
drops or moves entries.
"""

import os
import sys

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402


def test_every_query_has_an_oracle():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 92
    missing = [k for k in qs if k not in oracles]
    assert missing == [], f"queries without oracle SQL: {missing}"


def test_never_checked_queries_form_the_dict_prefix():
    """Cumulative driver coverage: every query CORRECTNESS_r04 never
    checked (the 44 r4-era rotations + the r5 additions) must form a
    CONTIGUOUS PREFIX of the dict, events_running_total first (r3
    verdict's one red cell), so whatever prefix the driver snapshots
    maximizes never-checked coverage. There are now more never-checked
    queries than the driver's historical 50-slot snapshot; the entries
    that spill past slot 50 are chosen lowest-marginal-risk (see the
    dict comments in __spark_entry__)."""
    import json
    qs = list(entrymod.queries())
    assert qs[0] == "events_running_total"
    r4_path = os.path.join(ROOT, "CORRECTNESS_r04.json")
    checked_r4 = set(json.load(open(r4_path)))
    unchecked = [q for q in qs if q not in checked_r4]
    assert set(qs[:len(unchecked)]) == set(unchecked), (
        "never-checked queries must form the dict prefix")
    spilled = [q for q in unchecked if q not in set(qs[:50])]
    assert spilled == ["log_sitemap_entries", "log_sitemap_frontier",
                       "log_sitemap_robots_conflicts",
                       "events_agg_refresh", "log_host_kcore",
                       "events_dau_stickiness",
                       "log_anchor_terms", "log_reciprocal_hosts",
                       "log_host_triangles", "log_host_profile",
                       "doc_fuzzy_incremental", "log_robots_rules",
                       "doc_decontaminated",
                       "log_crawl_frontier", "log_robots_applied",
                       "log_url_policy", "log_frontier_recrawl",
                       "doc_shard_assign", "log_crawl_delta",
                       "doc_train_eval_split", "log_url_policy_hosted",
                       "doc_softdedup_weights", "doc_cluster_reps",
                       "doc_span_novelty", "doc_source_overlap",
                       "doc_streaming_fuzzy_dedup"], (
        "only the designated low-risk queries may sit past slot 50")


def test_oracle_keys_match_query_keys():
    assert set(entrymod.oracle_sql()) == set(entrymod.queries())


# the full gate order: the correctness gate checks a prefix of it
QUERY_ORDER = [
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
    "doc_sequential_ids",
    "log_host_hits",
    "doc_containment_pairs",
    "doc_bloom_new_docs",
    "emb_kmeans_assign",
    "img_neardup_candidates",
    "doc_duplicate_spans",
    "doc_span_scrubbed",
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

FAMILY_OF_PREFIX = {"log": "log", "doc": "doc", "events": "events",
                    "emb": "emb", "img": "emb", "tpch": "tpch",
                    "lineitem": "tpch"}


def test_full_query_order_is_pinned():
    assert list(entrymod.queries()) == QUERY_ORDER
    assert len(QUERY_ORDER) == len(set(QUERY_ORDER)) == 126


def test_each_query_and_its_oracle_live_in_its_family_module():
    import importlib

    from logparse_rs_spark.queries.common import OracleTables

    # the oracle functions only format the table sources into their SQL
    tables = OracleTables._make(OracleTables._fields)
    by_family = {}
    for name, fn in entrymod.queries().items():
        family = FAMILY_OF_PREFIX[name.split("_", 1)[0]]
        module = f"logparse_rs_spark.queries.{family}"
        assert fn.__module__ == module, name
        assert getattr(importlib.import_module(module), name) \
            is fn.__wrapped__, name
        by_family.setdefault(module, set()).add(name)
    for module, names in by_family.items():
        oracles = importlib.import_module(module).oracle_sql(tables)
        assert set(oracles) == names, module
