"""Physical-plan regression tests: the plan properties the 100 TB design
depends on, pinned so refactors can't silently regress them.

Each assertion reads the executed/spark plan string — the same evidence a
human gets from .explain("formatted").
"""

import os

import pytest
from pyspark.sql import functions as F

from conftest import with_words

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as e
    return e


class TestParsePlans:
    def test_single_python_crossing(self, spark, entrymod):
        """All three parse UDFs (line/hash/qfields) fold into ONE
        ArrowEvalPython stage; a second stage would double the Python
        crossing cost on 10^12 rows."""
        df = entrymod.queries()["log_route_counts"](spark, SF)
        assert plan_of(df).count("ArrowEvalPython") == 1

    def test_hash_udf_pruned_when_unused(self, spark):
        """A query that never reads hash64 must not pay for the hash UDF."""
        from logparse_rs_spark.operators.parse import parse_pages
        from logparse_rs_spark.schema import load_schema
        schema = load_schema(os.path.join(ROOT, "schemas", "schema.json"))
        pages = spark.createDataFrame(
            [("u", "a,b,c,SYSTEM,x", "en")], "url string, text string, lang string")
        df = parse_pages(pages, schema).groupBy("log_type").count()
        assert "_hash64_of" not in plan_of(df)


class TestJoinPlans:
    def test_small_dims_broadcast(self, spark, entrymod):
        plan = plan_of(entrymod.queries()["tpch_q3ish"](spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_topk_uses_take_ordered(self, spark, entrymod):
        """top-k must plan as TakeOrderedAndProject (partial top-k per
        partition), never a global sort."""
        plan = plan_of(entrymod.queries()["events_top_users"](spark, SF))
        assert "TakeOrderedAndProject" in plan


class TestShufflePlans:
    def test_exact_dedup_single_exchange(self, spark, entrymod):
        """Dedup shuffles once, on the 8-byte hash key — never the text."""
        plan = plan_of(entrymod.queries()["doc_exact_dedup"](spark, SF))
        assert plan.count("Exchange") == 1

    def test_scan_prunes_columns(self, spark, entrymod):
        """events aggregation reads only the 3 columns it needs."""
        df = entrymod.queries()["events_value_quantiles"](spark, SF)
        scan = [l for l in plan_of(df).splitlines() if "FileScan" in l]
        assert scan and "user_id" not in scan[0]

    def test_filter_pushdown_reaches_scan(self, spark):
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        df = li.filter(F.col("l_quantity") > 30).select("l_orderkey")
        assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" \
            in plan_of(df).replace("30.0", "30")


class TestParsedCache:
    def test_cached_parse_identical_results(self, spark, entrymod):
        """_parsed memoizes per (session, fixture); the cached frame must be
        the same plan (one persist) and produce identical aggregates."""
        from logparse_rs_spark import shared
        a = entrymod.queries()["log_status_counts"](spark, SF)
        hits = shared.stats()["hits"]
        b = entrymod.queries()["log_status_counts"](spark, SF)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
        st = shared.stats()
        assert st["app"] == spark.sparkContext.applicationId
        assert any(name == "parsed" for name, _ in st["entries"])
        assert st["hits"] == hits + 1


class TestRound3Plans:
    def test_contamination_broadcasts_eval_side(self, spark, entrymod):
        """The corpus side must NOT shuffle: eval shingles broadcast,
        train side stays a map-side hash probe over the scan."""
        plan = plan_of(entrymod.queries()["doc_contamination"](spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_q5_bounded_dims_broadcast_facts_not(self, spark, entrymod):
        """supplier/nation/region broadcast; customer (O(SF)) must not
        carry a forced broadcast at scale — it may still be planned as a
        broadcast at sf0.01 size by AQE, so assert only the hint side:
        no CartesianProduct, >=3 broadcast joins for the bounded dims."""
        plan = plan_of(entrymod.queries()["tpch_q5ish"](spark, SF))
        assert plan.count("BroadcastHashJoin") >= 3
        assert "CartesianProduct" not in plan

    def test_pii_scrub_stays_in_codegen(self, spark, entrymod):
        plan = plan_of(entrymod.queries()["log_pii_scrub"](spark, SF))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_vocab_top_uses_take_ordered_and_partial_agg(self, spark,
                                                         entrymod):
        plan = plan_of(entrymod.queries()["doc_vocab_top25"](spark, SF))
        assert "TakeOrderedAndProject" in plan
        assert "partial_count" in plan or "HashAggregate" in plan


class TestRound5Plans:
    def test_lm_score_two_pass_matches_and_never_shuffles_corpus(
            self, spark, tmp_path):
        """lm_score(model=...) is the at-scale two-pass path: the persisted
        count model broadcasts onto the corpus bigrams, so (a) answers are
        identical to the single-pass oracle form, and (b) the corpus scan
        reaches the per-doc aggregate with NO corpus shuffle — both joins
        broadcast, the only shuffle Exchange is the doc-keyed mean."""
        from logparse_rs_spark.operators.text import (lm_bigram_model,
                                                      lm_score)
        docs = with_words(spark.read.parquet(f"{SF}/documents.parquet")
                          .select("doc_id", "text"))
        bg, un, vocab = lm_bigram_model(docs)
        # deploy shape: the model is a persisted vocab-sized table
        bg.write.parquet(str(tmp_path / "bg"))
        un.write.parquet(str(tmp_path / "un"))
        model = (spark.read.parquet(str(tmp_path / "bg")),
                 spark.read.parquet(str(tmp_path / "un")), vocab)
        two_pass = lm_score(docs, model=model)
        plan = plan_of(two_pass)
        assert plan.count("BroadcastHashJoin") == 2
        assert "SortMergeJoin" not in plan
        # the sole shuffle is the final doc-keyed aggregate
        assert plan.count("Exchange hashpartitioning") == 1
        single = {r["doc_id"]: (r["n_bigrams"], r["lm_score"])
                  for r in lm_score(docs).collect()}
        double = {r["doc_id"]: (r["n_bigrams"], r["lm_score"])
                  for r in two_pass.collect()}
        assert single == double and len(single) > 100

    def test_rank_fusion_windows_run_on_bounded_pools(self, spark,
                                                      entrymod):
        """rank_fusion's two row_number windows are single-partition BY
        DESIGN — their inputs must be top-`pool` frames, never the corpus.
        If someone later feeds an unbounded frame (drops a limit), the
        TakeOrderedAndProject pair disappears and this fails."""
        plan = plan_of(entrymod.queries()["doc_rank_fusion"](spark, SF))
        assert plan.count("TakeOrderedAndProject") >= 2
        assert plan.count("Window") >= 2

    def test_quantile_bins_window_runs_on_histogram(self, spark, entrymod):
        """exact_quantile_bins' cumulative-sum window is single-partition
        BY DESIGN — its input must be the distinct-value histogram
        aggregate (bounded), never the corpus rows. The plan prints the
        window's child below it: an aggregate must appear under the
        Window node."""
        plan = plan_of(entrymod.queries()["doc_length_deciles"](spark, SF))
        lines = plan.splitlines()
        widx = next(i for i, l in enumerate(lines) if "Window" in l)
        assert any("HashAggregate" in l for l in lines[widx:])

    def test_host_edges_cached_and_reused(self, spark, entrymod):
        """The web-graph pair shares ONE html scan via the persisted
        host-edges frame (the _parsed-cache pattern)."""
        qs = entrymod.queries()
        a = qs["log_link_hosts"](spark, SF).collect()
        b = qs["log_link_hosts"](spark, SF).collect()
        assert a == b and len(a) == 50
        import __spark_entry__ as e
        # reaching into the closure cell is uglier than re-deriving: the
        # cache is observable through the persisted-RDD registry instead
        persisted = [rdd for rdd in
                     spark.sparkContext._jsc.getPersistentRDDs().values()]
        assert persisted  # at least one persisted frame live (edges/parse)


class TestFinalWavePlans:
    def test_softdedup_never_shuffles_text(self, spark, entrymod):
        """soft-dedup joins the corpus ID projection against the cluster
        table — the text column must never appear past the scan."""
        df = entrymod.queries()["doc_softdedup_weights"](spark, SF)
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        # the corpus-side scan reads only doc_id (column pruning held)
        doc_scans = [l for l in plan.splitlines()
                     if "FileScan" in l and "documents" in l]
        assert doc_scans and all("text" not in l for l in doc_scans)

    def test_cluster_reps_aggregates_without_window(self, spark, entrymod):
        """representative selection is ONE hash aggregation via max_by —
        a window implementation would force a per-cluster sort."""
        plan = plan_of(entrymod.queries()["doc_cluster_reps"](spark, SF))
        assert "Window" not in plan
        assert "max_by" in plan or "ObjectHashAggregate" in plan

    def test_span_novelty_window_no_join_no_cartesian(self, spark,
                                                      entrymod):
        """novelty attributes first owners via min-over-window on the
        span key (r6: replaces the distinct + groupBy + big-to-big span
        join — one exchange instead of three-plus-join), then one
        id-keyed rollup. No join anywhere, no cross join; spans dedupe
        scan-side (array_distinct before the explode)."""
        plan = plan_of(entrymod.queries()["doc_span_novelty"](spark, SF))
        assert "Window" in plan
        assert "Join" not in plan
        assert "CartesianProduct" not in plan
        assert "array_distinct" in plan

    def test_source_overlap_prunes_corpus_to_id_source(self, spark,
                                                       entrymod):
        """the syndication rollup touches only (doc_id, source) on the
        corpus side — text never enters the pair joins. (The pair INPUT
        legitimately reads text once, inside the persisted signature
        frame's lineage; the source-tagging scans must stay 2-column.)"""
        df = entrymod.queries()["doc_source_overlap"](spark, SF)
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        src_scans = [l for l in plan.splitlines()
                     if "FileScan" in l and "source#" in l]
        assert src_scans and all("text" not in l for l in src_scans)


class TestGraphWavePlans:
    def test_sequential_ids_no_post_shuffle_no_corpus_window(self, spark):
        """sequential_ids' only corpus-wide exchange is the range
        repartition, which lives BEFORE the frozen checkpoint. The plan
        downstream of the checkpoint must be exchange-free on the corpus
        side: offsets arrive via broadcast and local ranks come from the
        mono-id difference, NOT a window keyed by partition id (that form
        planned a second hashpartitioning(_pid) exchange of the whole
        corpus — the regression this test pins out)."""
        import pandas as pd
        from logparse_rs_spark.operators.curate import sequential_ids
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(100)}))
        out = sequential_ids(df, ["doc_id"], num_partitions=5)
        plan = plan_of(out)
        assert "BroadcastHashJoin" in plan          # offsets broadcast
        assert "SortMergeJoin" not in plan
        # exactly ONE hash exchange: the partition-STAT aggregation (one
        # row per partition after map-side partials). The regression form
        # had a second one — hashpartitioning(_pid) of the whole corpus
        # feeding a window.
        assert plan.count("Exchange hashpartitioning") == 1
        # and the only single-partition stage is the stat prefix sum
        assert plan.count("Exchange SinglePartition") == 1
        assert "Exchange rangepartitioning" not in plan  # pre-checkpoint

    def test_triangle_wedge_joins_never_cartesian(self, spark):
        import pandas as pd
        from logparse_rs_spark.operators.graph import triangle_counts
        df = spark.createDataFrame(
            pd.DataFrame([(1, 2), (2, 3), (3, 1), (3, 4)],
                         columns=["src_host", "dst_host"]))
        plan = plan_of(triangle_counts(df))
        assert "CartesianProduct" not in plan
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan

    def test_hits_round_normalizer_is_one_row_broadcast(self, spark):
        """the per-round max normalizer must come back as a broadcast of
        a 1-row aggregate (BroadcastNestedLoopJoin over the 1-row max),
        never a CartesianProduct. Checked on the UN-truncated round body
        (the final plan hides round internals behind the checkpoint
        scan), by replaying one round's normalization inline."""
        import pandas as pd
        df = spark.createDataFrame(
            pd.DataFrame([(1, 2), (2, 3)], columns=["s", "t"]))
        nodes = df.select(F.col("s").alias("node")).union(
            df.select(F.col("t").alias("node"))).distinct()
        raw = df.groupBy(F.col("t").alias("node")).agg(
            F.count("*").alias("raw"))
        mx = F.broadcast(raw.agg(F.max("raw").alias("mx")))
        round_body = nodes.join(raw, "node", "left").crossJoin(mx)
        plan = plan_of(round_body)
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan
        # and the assembled operator never degrades to a cartesian or a
        # Python stage at any point that survives into the final plan
        from logparse_rs_spark.operators.graph import hits_integer
        fin = plan_of(hits_integer(
            df.withColumnRenamed("s", "src_host")
            .withColumnRenamed("t", "dst_host"), iterations=1))
        assert "CartesianProduct" not in fin
        assert "ArrowEvalPython" not in fin and "BatchEvalPython" not in fin
