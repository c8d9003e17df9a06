"""Document-corpus queries over ``documents.parquet``: quality, language,
tokens, exact and near-duplicate detection, curation, mixing, retrieval
and the streaming dedup operators, with their DuckDB oracles. Most
oracles read the refimpl aux tables (dataops_fixtures), so signatures and
fingerprints come from an engine-independent implementation."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from logparse_rs_spark.dataops_fixtures import (DSIR_N_BUCKETS,
                                                FUZZY_FRESH_OFFSET,
                                                FUZZY_FRESH_PREFIX,
                                                FUZZY_RECRAWL_OFFSET,
                                                FUZZY_VARIANT_OFFSET,
                                                FUZZY_VARIANT_SUFFIX)
from logparse_rs_spark.operators.crawl import host_hash60
from logparse_rs_spark.operators.curate import (dedup_paragraphs, dsir_weights,
                                                gopher_quality,
                                                gopher_repetition,
                                                remove_frequent_lines,
                                                sequential_ids,
                                                shard_assign_balanced,
                                                token_budget_cap)
from logparse_rs_spark.operators.dedup import WORD_SPLIT_CLASS as WSP
from logparse_rs_spark.operators.dedup import (WS_CHARS, _banded,
                                               bloom_anti_join,
                                               cluster_representatives,
                                               containment_pairs,
                                               content_fingerprint,
                                               duplicate_span_stats,
                                               exact_dedup, incremental_dedup,
                                               minhash_cross_dedup,
                                               ngram_jaccard,
                                               normalized_text,
                                               remove_contaminated_spans,
                                               remove_duplicate_spans, simhash,
                                               simhash_candidates,
                                               soft_dedup_weights,
                                               source_overlap, span_novelty,
                                               winnow_fingerprints)
from logparse_rs_spark.operators.graph import dup_clusters, pagerank_integer
from logparse_rs_spark.operators.sketch import heavy_hitters_exact
from logparse_rs_spark.operators.text import (LENGTH_BANDS, STOPWORDS,
                                              _doc_bigrams, _words,
                                              bpe_pair_counts, chunk_documents,
                                              collocations,
                                              contamination_check,
                                              exact_quantile_bins, fingerprint,
                                              fingerprint_sample,
                                              inverted_index, language_id,
                                              length_histogram,
                                              lm_bigram_model, lm_score,
                                              mixture_sample, pack_chunks,
                                              quality_percentile_filter,
                                              quality_score,
                                              quantile_bucket_stats,
                                              rank_fusion_topk, rare_terms,
                                              rebalance_by_group,
                                              related_doc_pairs,
                                              repeated_ngrams, tfidf_topk,
                                              token_counts, vocab_top,
                                              word_ngrams)
from logparse_rs_spark.shared import shared
from logparse_rs_spark.streaming.stateful import (streaming_band_registry,
                                                  streaming_exact_dedup)

from .common import (STREAM_BATCHES, OracleTables, _canon_pairs,
                     _doc_components, _doc_pairs, _doc_sigs, _docs, _tok_docs,
                     fixture_root, run_available_now, sf_basename)

# whitespace spelled as an explicit character class on BOTH sides (the
# operators use the same constants) — Java \s and RE2 \s disagree on
# \x0B, so \s in an oracle is a latent tokenizer mismatch
SYMCLS = f"[A-Za-z0-9{WS_CHARS}]"


def doc_exact_dedup(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir)).select("doc_id", "dup_count")


def doc_quality(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir))


def doc_token_counts(spark, sf_dir):
    return token_counts(_docs(spark, sf_dir))


def doc_lang_id(spark, sf_dir):
    return language_id(_docs(spark, sf_dir))


def doc_ngram_jaccard(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    ids = docs.filter("doc_id < 6").select("doc_id")
    a, b = ids.alias("a"), ids.alias("b")
    pairs = (a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b")))
    return ngram_jaccard(docs, pairs, n=3) \
        .withColumn("jaccard", F.round("jaccard", 6))


def doc_minhash_pairs(spark, sf_dir):
    return _doc_pairs(spark, sf_dir)


def doc_simhash_candidates(spark, sf_dir):
    # max_bucket=1000 is the demonstrated (scale-safe) form: a chunk
    # table has only 65,536 buckets, so uncapped the self-join is
    # n^2/65,536 at corpus scale. The fixture build asserts no sf0.01
    # chunk bucket exceeds the cap (dataops_fixtures._assert_oracle_caps)
    # so the uncapped DuckDB oracle sees the identical pair set.
    return simhash_candidates(simhash(_docs(spark, sf_dir)),
                              max_bucket=1000)


def doc_curation_stats(spark, sf_dir):
    # the end-to-end training-data curation shape: quality filter ->
    # language filter -> exact-dedup survivors -> per-language corpus
    # stats. Every stage is a narrow projection or a hash agg; the only
    # shuffles are the dedup groupBy and the final per-lang agg.
    # single-pass composition: every stage is a per-row projection of
    # the same scan, so the metric frames chain through keep_cols
    # instead of re-scanning + self-joining on doc_id (guide §2.4,
    # remove shuffles outright). The exact-dedup winner check is a
    # min-over-window on the tk partitioning, one exchange.
    docs = _docs(spark, sf_dir)
    base = docs.select(
        "doc_id", "lang", "text",
        F.xxhash64(normalized_text(F.col("text"))).alias("tk"))
    q = quality_score(base, keep_cols=("lang", "text", "tk"))
    l = language_id(q, keep_cols=("lang", "text", "tk", "n_words",
                                  "alpha_ratio"))
    t = token_counts(l, keep_cols=("lang", "tk", "n_words",
                                   "alpha_ratio", "lang_pred"))
    canon_min = F.min("doc_id").over(Window.partitionBy("tk"))
    kept = (t.withColumn("_cmin", canon_min)
            .filter((F.col("doc_id") == F.col("_cmin"))
                    & (F.col("alpha_ratio") >= 0.7)
                    & (F.col("n_words") >= 30)
                    & (F.col("lang_pred") != "unknown")))
    return (kept.groupBy("lang")
            .agg(F.count("*").alias("docs"),
                 F.sum("bpe_token_est").alias("total_tokens"),
                 F.round(F.avg("alpha_ratio"), 6).alias("avg_alpha")))


def doc_near_dup_dedup(spark, sf_dir):
    # composed duplicate-heavy-safe plan: exact-dedup -> minhash over
    # canonical docs -> capped LSH band join. The testdata has no exact
    # dups, so the oracle is the plain banding over refimpl signatures —
    # proving the composition is a pure optimization, not a semantic
    # change, on dup-free input (the dup-heavy behavior is pytest-pinned)
    return _canon_pairs(spark, sf_dir)


def doc_text_neardup_verified(spark, sf_dir):
    # the canonical two-stage TEXT near-dup: capped minhash-LSH band
    # candidates -> exact char-3-gram Jaccard verify >= 0.5 (the text
    # counterpart of emb_neardup_pairs' candidates->verify composition).
    # The verify stage (ngram_jaccard) looks each pair's texts up by id
    # and scores an Arrow batch of pairs at once over worker-memoized
    # gram sets, so no gram array ever crosses a join
    docs = _docs(spark, sf_dir)
    pairs = _canon_pairs(spark, sf_dir)
    return (ngram_jaccard(docs, pairs, n=3)
            .filter(F.col("jaccard") >= 0.5)
            .withColumn("jaccard", F.round("jaccard", 6)))


def doc_fingerprint_fnv(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir))


def _incremental_batch(d):
    # a deterministic "new crawl batch" derived from the corpus: 20%
    # recrawled copies (new ids, same text), 20% genuinely-new texts,
    # plus a second copy of half the new texts (a within-batch dup)
    mod = F.pmod(F.col("doc_id"), F.lit(10))
    fresh = F.concat(F.col("text"), F.lit(" fresh "),
                     F.col("doc_id").cast("string"))
    a = (d.filter(mod.isin(0, 1))
         .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                 "text", "lang", "source"))
    b = (d.filter(mod.isin(2, 3))
         .select((F.col("doc_id") + 2_000_000).alias("doc_id"),
                 fresh.alias("text"), "lang", "source"))
    c = (d.filter(mod == 2)
         .select((F.col("doc_id") + 3_000_000).alias("doc_id"),
                 fresh.alias("text"), "lang", "source"))
    return a.unionByName(b).unionByName(c)


def doc_incremental_dedup(spark, sf_dir):
    # incremental crawl dedup of _incremental_batch against the corpus:
    # recrawled copies are dropped, new texts kept, and the within-batch
    # dup resolves keep-first
    d = _docs(spark, sf_dir)
    return (incremental_dedup(_incremental_batch(d), d)
            .select("doc_id", "lang", "source"))


def doc_curation_funnel(spark, sf_dir):
    # the attrition report of a full curation run: raw -> token band
    # -> Gopher rules -> exact-dedup canonical -> deterministic 25%
    # content sample, one integer row per stage
    # one-pass funnel: every stage predicate is a per-row column
    # (token band, gopher keep, fp sample) or a min-over-window on
    # the exact-dedup key, so all five (n_docs, total_chars) pairs
    # fold in ONE aggregation over one scan — the stage-frame form
    # re-ran the shared lineage once per stage count (the scheduler
    # gets no reuse across separate actionsless agg branches).
    # Values identical: attrition_funnel output shape reproduced
    # exactly (stage, stage_name, n_docs, total_chars).
    d = _docs(spark, sf_dir)
    base = d.select(
        "doc_id", "text",
        F.size(_words(F.col("text"))).alias("_nw"),
        F.xxhash64(normalized_text(F.col("text"))).alias("_tk"),
        F.pmod(content_fingerprint(F.col("text")), F.lit(4)).alias("_fp"))
    gq = gopher_quality(base, keep_cols=("text", "_nw", "_tk", "_fp"))
    p1 = F.col("_nw").between(20, 200)
    p2 = p1 & (F.col("keep") == 1)
    flags = gq.withColumn(
        "_cmin", F.min(F.when(p2, F.col("doc_id")))
        .over(Window.partitionBy("_tk")))
    p3 = p2 & (F.col("doc_id") == F.col("_cmin"))
    p4 = p3 & (F.col("_fp") == 0)
    ln = F.length("text")
    stages = [("raw", F.lit(True)), ("token_band", p1),
              ("gopher", p2), ("exact_dedup", p3), ("fp_sample", p4)]
    aggs = []
    for i, (name, p) in enumerate(stages):
        aggs.append(F.sum(p.cast("long")).alias(f"_n{i}"))
        aggs.append(F.coalesce(F.sum(F.when(p, ln)), F.lit(0))
                    .cast("long").alias(f"_c{i}"))
    row = flags.agg(*aggs)
    out = row.select(F.explode(F.array(*[
        F.struct(F.lit(i).cast("long").alias("stage"),
                 F.lit(name).alias("stage_name"),
                 F.col(f"_n{i}").alias("n_docs"),
                 F.col(f"_c{i}").alias("total_chars"))
        for i, (name, _) in enumerate(stages)])).alias("_s"))
    return out.select("_s.stage", "_s.stage_name", "_s.n_docs",
                      "_s.total_chars")


def doc_dsir_weights(spark, sf_dir):
    # DSIR importance weights: per-doc mean log-likelihood ratio of
    # hashed-unigram models, target = English slice vs whole corpus
    return dsir_weights(_docs(spark, sf_dir), target="lang = 'en'",
                        n_buckets=DSIR_N_BUCKETS)


def doc_stratified_sample(spark, sf_dir):
    # reproducible content-hash sampling (FNV fingerprint ≡ 0 mod 20),
    # stratified report per language
    sampled = fingerprint_sample(_docs(spark, sf_dir), modulus=20,
                                 keep=0)
    return (sampled.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars")))


def doc_vocab_top25(spark, sf_dir):
    return vocab_top(_tok_docs(spark, sf_dir), k=25)


def doc_repeated_5grams(spark, sf_dir):
    return repeated_ngrams(_tok_docs(spark, sf_dir), n=5, k=20,
                           min_count=2)


def doc_lang_rebalance(spark, sf_dir):
    # data-mixing cap: at most 30 docs per language, survivors chosen
    # by content-fingerprint order (deterministic + unbiased); oracle
    # ranks by the refimpl FNV parquet
    kept = rebalance_by_group(_docs(spark, sf_dir), group_col="lang",
                              quota=30)
    return (kept.groupBy("lang")
            .agg(F.count("*").alias("kept_docs"),
                 F.sum("n_chars").alias("kept_chars")))


def doc_dup_clusters(spark, sf_dir):
    # pairs -> GROUPS: transitive closure of the LSH pair graph via
    # large/small-star contraction (operators/graph.py); checked
    # against a DuckDB RECURSIVE-CTE closure over the same pair set
    return dup_clusters(components=_doc_components(spark, sf_dir))


def doc_contamination(spark, sf_dir):
    # benchmark-decontamination: training docs sharing any 5-gram with
    # the "eval set" (doc_id < 25 stands in for a benchmark); the eval
    # shingle side is broadcast so the corpus never shuffles
    docs = _docs(spark, sf_dir)
    return contamination_check(docs.filter("doc_id >= 25"),
                               docs.filter("doc_id < 25"), n=5)


def doc_cluster_dedup_stats(spark, sf_dir):
    # the full near-dup dedup ENDGAME: pairs -> transitive clusters ->
    # keep one canonical doc (min id) per cluster -> corpus stats of
    # the survivors. anti-join keeps the corpus scan narrow.
    docs = _docs(spark, sf_dir)
    comp = _doc_components(spark, sf_dir)
    drop = (comp.filter(F.col("id") != F.col("component"))
            .select(F.col("id").alias("doc_id")))
    kept = docs.join(drop, on="doc_id", how="left_anti")
    return (kept.groupBy("lang")
            .agg(F.count("*").alias("kept_docs"),
                 F.sum("n_chars").alias("kept_chars")))


def doc_span_novelty(spark, sf_dir):
    # first-occurrence attribution: per doc, the fraction of its
    # distinct 8-word spans FIRST seen in this doc (min owning id) —
    # the inverse of doc_duplicate_spans, same inverted-index shape
    return span_novelty(_tok_docs(spark, sf_dir), n=8)


def doc_source_overlap(spark, sf_dir):
    # syndication detection: near-dup pairs rolled up to the source
    # level (canonically ordered pair), duplicate-mass per feed pair
    return source_overlap(_doc_pairs(spark, sf_dir),
                          _docs(spark, sf_dir))


def doc_softdedup_weights(spark, sf_dir):
    # soft dedup: DOWN-WEIGHT cluster members (1/k in ppm) instead of
    # dropping them; reuses the session-shared components frame, so
    # the only new work is one id-keyed join + scan-side integer DIV
    return soft_dedup_weights(_docs(spark, sf_dir),
                              doc_dup_clusters(spark, sf_dir))


def doc_cluster_reps(spark, sf_dir):
    # quality-aware canonical-copy selection: highest-quality member
    # per near-dup cluster (tie -> min id) — the keep-best variant of
    # doc_cluster_dedup_stats' keep-min-id rule
    return cluster_representatives(
        doc_dup_clusters(spark, sf_dir), quality_score(_docs(spark, sf_dir)))


def doc_packed_sequences(spark, sf_dir):
    # chunking -> greedy sequence packing (256-word budget, 8 packing
    # buckets): the applyInPandas-backed stateful-within-group op,
    # checked against a DuckDB RECURSIVE-CTE replay of the greedy rule
    ch = chunk_documents(_docs(spark, sf_dir), chunk_words=64,
                         stride=48)
    return pack_chunks(ch, budget=256, n_buckets=8)


def doc_winnow_fp(spark, sf_dir):
    # winnowing (MOSS) local fingerprints: per-doc selected-hash set
    # stats + the lexicographic min fingerprint pinning content
    w = winnow_fingerprints(_docs(spark, sf_dir), k=8, window=16)
    return w.select("doc_id", "n_grams", "n_fingerprints",
                    F.array_min("fingerprints").alias("min_fp"))


def doc_mixture_sample(spark, sf_dir):
    # weighted data mixing: sources 0-4 at 10%, 5-9 at 50%, rest
    # full rate; survivors decided by content fingerprint threshold
    # classes (reproducible, partitioning-independent, nested)
    rates = {f"src{i}": 0.1 for i in range(5)}
    rates.update({f"src{i}": 0.5 for i in range(5, 10)})
    kept = mixture_sample(_docs(spark, sf_dir), rates,
                          default_rate=1.0)
    return (kept.groupBy("source")
            .agg(F.count("*").alias("kept_docs"),
                 F.sum("n_chars").alias("kept_chars")))


def doc_lm_score(spark, sf_dir):
    # perplexity-style filter: per-doc mean ln P(w2|w1) under the
    # corpus's own add-one-smoothed bigram model (exact counts).
    # Runs the TWO-PASS at-scale form (model built separately, then
    # broadcast onto the corpus bigrams — apply stage shuffles nothing
    # corpus-sized), so the oracle gate checks the deployment path;
    # single-pass == two-pass equality is pinned in tests/test_plans.py.
    # both passes read the session-shared persisted tokenization
    # (_tok_docs), and the (doc, bigram) explode — the common input
    # of the bigram-count, first-word-count and scoring traversals —
    # materializes once per call instead of three times
    docs = _tok_docs(spark, sf_dir)
    bg = shared(spark, "lm_bigrams", f"{sf_dir}/documents.parquet",
                lambda: _doc_bigrams(docs, "doc_id").persist())
    model = lm_bigram_model(docs, doc_bg=bg)
    return lm_score(docs, model=model, doc_bg=bg)


def doc_rare_terms(spark, sf_dir):
    # per-doc distinguishing terms: 3 rarest tokens by corpus document
    # frequency (all-integer ranking: df asc, tf desc, token asc)
    return rare_terms(_docs(spark, sf_dir), k=3, min_len=4)


def doc_quality_topfrac(spark, sf_dir):
    # percentile-threshold curation: keep the best quarter per
    # language by quality score (ties broken by doc_id; kept count
    # = ceil(0.25 * group size), integer-exact on both sides)
    return quality_percentile_filter(_docs(spark, sf_dir), frac=0.25)


def doc_length_bands(spark, sf_dir):
    # corpus length histogram over fixed log-spaced bands — exact,
    # scan-side, no global sort (see operators/text.length_histogram)
    return length_histogram(_docs(spark, sf_dir))


def doc_chunks(spark, sf_dir):
    # sliding-window chunking (64-word chunks, stride 48): one row per
    # (doc, chunk) with an md5 of the chunk text so content is pinned
    # byte-exactly against the oracle without shipping full chunks
    # through the hash compare
    ch = chunk_documents(_docs(spark, sf_dir), chunk_words=64,
                         stride=48)
    return ch.select("doc_id", "chunk_id", "chunk_words",
                     "chunk_chars", F.md5("chunk_text").alias("chunk_md5"))


def _staged_doc_batches(spark, sf_dir):
    # documents split into STREAM_BATCHES ascending-doc_id micro-batch
    # files so the first batch containing a text/band holds its global
    # min id and streaming first-seen equals the batch min-id answer.
    # Dir name embeds the batch count: a changed STREAM_BATCHES must
    # not silently reuse a differently-split staging dir.
    # key by the REAL sf basename, not _sf_tag (which collapses unknown
    # tags onto sf0.01): a generated sf1.0 run must not write its
    # staging into the sf0.01 dir. Belt+braces: a row-count staleness
    # probe below rebuilds any staging whose total rows no longer
    # match the source documents table.
    n_b = STREAM_BATCHES
    src = os.path.join(fixture_root(),
                       f"docstream_{sf_basename(sf_dir)}_b{n_b}")
    staged = sorted(glob.glob(os.path.join(src, "b*.parquet")))
    if staged:
        n_staged = sum(pq.ParquetFile(f).metadata.num_rows
                       for f in staged)
        n_src = pq.ParquetFile(
            f"{sf_dir}/documents.parquet").metadata.num_rows
        if n_staged != n_src:
            shutil.rmtree(src, ignore_errors=True)
            staged = []
    if not staged:
        docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("doc_id", "text"))
        n = docs.count()
        os.makedirs(src, exist_ok=True)
        for b in range(n_b):
            lo, hi = b * n // n_b, (b + 1) * n // n_b
            part_dir = os.path.join(src, f"_tmp_b{b}")
            (docs.filter((F.col("doc_id") >= lo)
                         & (F.col("doc_id") < hi) if b < n_b - 1
                         else (F.col("doc_id") >= lo))
             .coalesce(1).write.mode("overwrite").parquet(part_dir))
            part = glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
            dest = os.path.join(src, f"b{b}.parquet")
            shutil.move(part, dest)
            shutil.rmtree(part_dir, ignore_errors=True)
            # the file source triggers oldest-mtime-first: pin the
            # batch order to the id order explicitly
            os.utime(dest, (1_000_000_000 + b, 1_000_000_000 + b))
    return src


def _doc_stream(spark, sf_dir):
    # one staged micro-batch file per trigger = one scan task; the
    # stateless repartition spreads the per-batch hash and signature
    # work across the state-partition width instead of one core
    # (results are partitioning-independent: the state ops re-shuffle
    # by key)
    return (spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(_staged_doc_batches(spark, sf_dir))
            .repartition(8))


def doc_streaming_exact_dedup(spark, sf_dir):
    # the STREAMING exact-dedup operator (applyInPandasWithState) run
    # to batch equivalence: documents split into ascending-doc_id
    # micro-batch files (so the first batch containing a text holds
    # its global min id and the streaming survivor set equals the
    # batch exact_dedup answer), fed through availableNow triggers,
    # survivors collected from the memory sink.
    # UPDATE mode: native streaming min-agg state (see
    # streaming_exact_dedup) — re-emissions carry identical survivors;
    # the min-rollup below is the deterministic read of the sink.
    out = run_available_now(
        spark, streaming_exact_dedup(_doc_stream(spark, sf_dir)),
        "dedup_feed", "update")
    return (out.groupBy("text_key")
            .agg(F.min("doc_id").alias("doc_id")).select("doc_id"))


def doc_streaming_fuzzy_dedup(spark, sf_dir):
    # STREAMING near-dup state: the minhash band registry
    # (applyInPandasWithState keyed by (band, bucket) — first owner
    # per bucket, min id within a micro-batch, earlier batch wins
    # across batches). Batches ascend by doc_id, so the streamed
    # first-owner table equals the batch min-id-per-bucket answer;
    # SURVIVORS = docs owning ALL their buckets (any lost bucket is a
    # same-band collision with earlier content). The DuckDB oracle
    # replays ownership from the aux signature parquet — the same
    # sig-slice banding, engine-independently.
    # UPDATE mode: the registry is a native streaming min aggregation
    # (see streaming_band_registry) — a bucket touched by several
    # batches re-emits its (identical) owner once per batch; the
    # min-rollup below is the deterministic read of the sink.
    out = run_available_now(
        spark, streaming_band_registry(_doc_stream(spark, sf_dir)),
        "band_registry", "update")
    registry = (out.groupBy("band", "bucket")
                .agg(F.min("doc_id").alias("_owner")))
    # batch-side survivor decision from the STREAMED registry: every
    # (band, bucket) of the doc must be owned by the doc itself
    mine = _banded(_doc_sigs(spark, sf_dir), "doc_id", 16, 64)
    return (mine.join(registry, ["band", "bucket"])
            .groupBy("doc_id")
            .agg(F.sum((F.col("_owner") != F.col("doc_id"))
                       .cast("int")).alias("_lost"))
            .filter(F.col("_lost") == 0)
            .select("doc_id"))


def _multiline_docs(spark, sf_dir):
    # deterministic multi-line corpus for the line-granularity
    # operators (the documents fixture is single-line): per doc, wrap
    # the body in injected boilerplate lines chosen by doc_id residues
    # — b1 (~1/3 of docs) and b2 (1/2) land far above the df threshold
    # and must be removed; the b3 cookie variants (~4-5 docs each at
    # sf0.01) stay below it and must survive. Construction mirrored
    # exactly in the oracle SQL (concat_ws skips the NULL branches in
    # both engines).
    d = _docs(spark, sf_dir)
    parts = F.array(
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("subscribe to our newsletter")),
        F.col("text"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("all rights reserved")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("cookie notice level "),
                        (F.col("doc_id") % 120).cast("string"))),
    )
    mtext = F.array_join(F.filter(parts, lambda x: x.isNotNull()), "\n")
    return d.select("doc_id", mtext.alias("text"))


def doc_boilerplate_lines(spark, sf_dir):
    # C4/CCNet-style line-frequency boilerplate removal: lines in
    # >= 50 distinct docs are dropped, everything else survives in
    # order; per-doc md5 pins the reassembled bytes
    out = remove_frequent_lines(_multiline_docs(spark, sf_dir),
                                min_docs=50)
    return out.select("doc_id", F.md5("text_clean").alias("clean_md5"),
                      "n_lines", "n_kept")


def doc_paragraph_dedup(spark, sf_dir):
    # cross-document exact paragraph dedup, keep-first by (doc_id,
    # pos): the RefinedWeb/Dolma inter-document repetition recipe at
    # paragraph granularity
    out = dedup_paragraphs(_multiline_docs(spark, sf_dir))
    return out.select("doc_id", F.md5("text_clean").alias("clean_md5"),
                      "n_lines", "n_kept")


def doc_gopher_quality(spark, sf_dir):
    # Gopher-style quality rules in exact integer arithmetic (word
    # count / mean word length / alpha fraction / symbol ratio /
    # stopword presence) — scan-side, no shuffle
    return gopher_quality(_docs(spark, sf_dir))


def _lined_docs(spark, sf_dir):
    # deterministic WITHIN-doc line structure for repetition scoring:
    # 8-word lines from the body, plus the first line repeated at the
    # end for doc_id % 4 == 0 (a quarter of docs carry a real
    # duplicate line). Mirrored exactly in the oracle SQL.
    d = _docs(spark, sf_dir)
    words = F.filter(F.split(F.col("text"), " ", -1),
                     lambda x: x != "")
    nl = F.greatest(F.ceil(F.size(words) / F.lit(8)), F.lit(1).cast("long"))
    lines = F.transform(
        F.sequence(F.lit(0).cast("long"), nl - 1),
        lambda i: F.array_join(F.slice(words, i * 8 + 1, 8), " "))
    lined = F.when(F.col("doc_id") % 4 == 0,
                   F.concat(lines, F.array(lines[0]))).otherwise(lines)
    return d.select("doc_id", F.array_join(lined, "\n").alias("text"))


def doc_gopher_repetition(spark, sf_dir):
    # Gopher-style within-doc repetition signals (duplicate lines,
    # most-common word bigram) — zero-shuffle scan-side projection
    return gopher_repetition(_lined_docs(spark, sf_dir))


def doc_token_budget(spark, sf_dir):
    # per-source TOKEN budget cap (corpus mixing in token units):
    # srcs 0-4 capped at 1200 tokens, 5-9 at 600, rest uncapped;
    # survivors decided by reference-FNV fingerprint order
    budgets = {f"src{i}": 1200 for i in range(5)}
    budgets.update({f"src{i}": 600 for i in range(5, 10)})
    kept = token_budget_cap(_docs(spark, sf_dir), budgets)
    return kept.groupBy("source").agg(
        F.count("*").alias("kept_docs"),
        F.sum("n_tokens").alias("kept_tokens"),
        F.max("running_tokens").alias("max_running"))


def doc_heavy_bigrams(spark, sf_dir):
    # EXACT heavy hitters (bigram freq > 0.1% of the stream) via the
    # Misra-Gries candidate pass + broadcast-semi-join exact verify —
    # the vocab-sized shuffle of the naive groupBy never happens; the
    # oracle is the naive exact SQL, so the gate proves the sketch
    # plan returns the identical answer.
    d = _tok_docs(spark, sf_dir)
    grams = d.select(F.explode(
        word_ngrams(F.col("words"), 2)).alias("gram"))
    return heavy_hitters_exact(grams, "gram", support_den=1000)


def doc_collocations(spark, sf_dir):
    # PMI-style collocation mining, ranked by exact integer lift
    # (n_xy * 1e9 DIV (n_x * n_y)) — no float division anywhere on
    # either engine; corpus never shuffles, only vocab-sized frames.
    return collocations(_tok_docs(spark, sf_dir), k=20, min_count=5)


def doc_length_deciles(spark, sf_dir):
    # exact global decile boundaries of n_chars WITHOUT a total sort:
    # bounded-cardinality histogram agg + boundary selection on the
    # histogram frame (percentile_disc semantics as an integer rule).
    return exact_quantile_bins(_docs(spark, sf_dir), q=10)


def doc_inverted_index(spark, sf_dir):
    # phrase-posting lists for mid-rarity word TRIGRAMS (2 <= df <= 8):
    # the fixture vocabulary is ~30 words so no unigram is rare, but
    # trigram phrases have a long df tail at every SF. Per-doc distinct
    # before the explode, postings as a comma-joined ascending id
    # string (engine-neutral render).
    return inverted_index(_tok_docs(spark, sf_dir), min_df=2, max_df=8,
                          min_len=1, ngram=3)


def doc_related_pairs(spark, sf_dir):
    # "more like this" candidate pairs: docs sharing >= 2 mid-rarity
    # trigram posting lists — pair explosion bounded by max_df per
    # term, never by corpus size.
    return related_doc_pairs(_tok_docs(spark, sf_dir), min_shared=2,
                             min_df=2, max_df=8, min_len=1, ngram=3)


def doc_bpe_pairs(spark, sf_dir):
    # BPE-trainer inner loop: top-20 adjacent character pairs weighted
    # by word frequency; the corpus collapses to the vocab table first,
    # pair counting runs on vocab-sized data only.
    return bpe_pair_counts(_docs(spark, sf_dir), k=20)


def doc_tfidf_topk(spark, sf_dir):
    # ranked retrieval for a fixed 3-term query under exact-integer
    # tf-idf (idf_ppb = N * 1e9 DIV df) — scan keeps only query-term
    # hits, df/N computed in-plan and broadcast (no driver collect).
    return tfidf_topk(_tok_docs(spark, sf_dir),
                      terms=["vector", "window", "customer"], k=20)


def doc_decile_stats(spark, sf_dir):
    # composes exact_quantile_bins into a bucket assignment (broadcast
    # non-equi join against the 9-row boundary frame) + per-band stats.
    return quantile_bucket_stats(_docs(spark, sf_dir), q=10)


def doc_pagerank(spark, sf_dir):
    # integer fixed-point PageRank (3 rounds) over the shared-rare-
    # phrase graph: exact BIGINT ranks, each round one edge-vs-rank
    # join + one dst-keyed sum. Top-20, ties pinned by node id.
    pr = pagerank_integer(doc_related_pairs(spark, sf_dir), iterations=3)
    return (pr.select(F.col("node").alias("doc_id"),
                      F.col("pr").alias("pagerank"))
            .orderBy(F.desc("pagerank"), F.asc("doc_id")).limit(20))


def doc_rank_fusion(spark, sf_dir):
    # reciprocal-rank fusion (1e9 DIV (60 + rank), exact integers) of
    # the tf-idf ranking x a length prior, each a top-100 TakeOrdered
    # pool — no global sort, pool-sized windows and join only.
    return rank_fusion_topk(_tok_docs(spark, sf_dir),
                            terms=["vector", "window", "customer"],
                            k=20, pool=100)


def doc_sequential_ids(spark, sf_dir):
    # dense 0-based corpus ordinals in (lang, doc_id) order without a
    # global sort: range-partition + frozen layout + broadcast prefix
    # offsets (the scalable zipWithIndex; one corpus shuffle).
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return (sequential_ids(d, ["lang", "doc_id"], out_col="seq_id")
            .select("doc_id", "lang", "seq_id")
            .orderBy("seq_id"))


def doc_containment_pairs(spark, sf_dir):
    # asymmetric containment verify (Broder): subset-shaped
    # duplication — syndicated excerpts, quoted pages — that
    # symmetric Jaccard under-scores. Candidates from the session-
    # shared minhash signatures; exact integer-ppm scores from the
    # memoized gram-set kernel (no gram arrays in any shuffle).
    return containment_pairs(_docs(spark, sf_dir),
                             _doc_pairs(spark, sf_dir), n=3,
                             min_ppm=800_000)


def doc_bloom_new_docs(spark, sf_dir):
    # Bloom-prefiltered EXACT membership: which batch docs are new vs
    # the corpus — the bitmap (fixed-size, broadcast) prunes the
    # corpus-keyed anti-join down to maybe-members; result identical
    # to the plain anti-join the oracle runs. Batch = _incremental_batch
    # (recrawled copies + fresh texts); within-batch copies BOTH survive
    # (membership, not keep-first).
    d = _docs(spark, sf_dir)
    batch = _incremental_batch(d).withColumn(
        "_nt", normalized_text(F.col("text")))
    corpus = d.select(normalized_text(F.col("text")).alias("_nt"))
    out = bloom_anti_join(batch, corpus, "_nt", m_bits=1 << 21)
    return out.select("doc_id", "lang", "source")


def doc_duplicate_spans(spark, sf_dir):
    # Lee-et-al-style duplicated-span exposure: per doc, how many of
    # its distinct 8-word spans occur in >=1 other doc (the
    # document-level signal behind substring-level dedup). Exact
    # integer ppm output.
    return duplicate_span_stats(_tok_docs(spark, sf_dir), n=8)


def doc_span_scrubbed(spark, sf_dir):
    # substring-dedup REMOVAL: drop every word covered by an 8-word
    # span shared across >=2 docs; untouched docs keep their original
    # bytes, edited docs rebuild from surviving (lowercased) tokens.
    # Content pinned via portable md5 of the output text.
    out = remove_duplicate_spans(_tok_docs(spark, sf_dir), n=8)
    return out.select("doc_id", F.md5("text").alias("text_md5"),
                      "n_removed")


def doc_decontaminated(spark, sf_dir):
    # benchmark decontamination by EDITING: every corpus word covered
    # by an 8-word span that appears in the eval set (doc_id % 17 ==
    # 0) is scrubbed; eval docs themselves scrub to empty, docs
    # sharing only their own template spans stay byte-identical.
    docs = _tok_docs(spark, sf_dir)
    ev = docs.filter(F.pmod(F.col("doc_id"), F.lit(17)) == 0)
    out = remove_contaminated_spans(docs, ev, n=8)
    return out.select("doc_id", F.md5("text").alias("text_md5"),
                      "n_removed")


def doc_train_eval_split(spark, sf_dir):
    # deterministic held-out split: eval iff the portable 60-bit md5
    # hash of the doc id lands in the first 10% of the residue space
    # — reproducible on any engine, no RNG, stable under corpus
    # growth. Per-(lang, split) doc + token accounting (the
    # stratification report a split step must emit).
    d = _docs(spark, sf_dir)
    split = F.when(
        F.pmod(host_hash60(F.col("doc_id").cast("string")),
               F.lit(100)) < 10,
        F.lit("eval")).otherwise(F.lit("train"))
    return (d.select("lang", split.alias("split"),
                     F.size(_words(F.col("text"))).cast("long")
                     .alias("n_tokens"))
            .groupBy("lang", "split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"))
            .orderBy("lang", "split"))


def doc_shard_assign(spark, sf_dir):
    # token-balanced shard write-out: snake assignment over the
    # (n_tokens desc, doc_id) order computed WITHOUT a global sort
    # (histogram offset + equal-size window). Per-shard load rollup —
    # the hash compare pins every doc's shard via the totals.
    d = _tok_docs(spark, sf_dir).withColumn(
        "n_tokens", F.size("words").cast("long"))
    s = shard_assign_balanced(d, n_shards=8)
    return (s.groupBy("shard")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.min("rank").alias("first_rank"))
            .orderBy("shard"))


def doc_fuzzy_incremental(spark, sf_dir):
    # FUZZY incremental crawl dedup: a new batch (exact recrawls +
    # near-variant re-editions + genuinely fresh texts, synthesized
    # deterministically from documents; same rule as the aux tables,
    # see dataops_fixtures FUZZY_*) is near-dup-suppressed against
    # the corpus via cross-side minhash banding -> exact 3-gram
    # jaccard verify >= 0.5. Survivors keep their rows.
    d = _docs(spark, sf_dir)
    mod = F.pmod(F.col("doc_id"), F.lit(10))
    a = d.filter(mod == 0).select(
        (F.col("doc_id") + FUZZY_RECRAWL_OFFSET).alias("doc_id"),
        "text", "lang", "source")
    b = d.filter(mod == 3).select(
        (F.col("doc_id") + FUZZY_VARIANT_OFFSET).alias("doc_id"),
        F.concat("text", F.lit(FUZZY_VARIANT_SUFFIX)).alias("text"),
        "lang", "source")
    c = d.filter(mod == 6).select(
        (F.col("doc_id") + FUZZY_FRESH_OFFSET).alias("doc_id"),
        F.concat(F.lit(FUZZY_FRESH_PREFIX),
                 F.col("doc_id").cast("string")).alias("text"),
        "lang", "source")
    batch = a.unionByName(b).unionByName(c)
    surv = minhash_cross_dedup(batch, d.select("doc_id", "text"),
                               threshold=0.5,
                               corpus_sigs=_doc_sigs(spark, sf_dir))
    return surv.select("doc_id", "lang", "source")


def oracle_sql(t: OracleTables) -> dict[str, str]:
    DOC_AUX, BATCH_AUX = t.DOC_AUX, t.BATCH_AUX
    TOK_BUCKETS = t.TOK_BUCKETS
    # the distinct candidate pairs of 16 four-row minhash bands over the
    # refimpl signatures: the pair oracles, and the input of the cluster
    # and verify oracles
    band16_pairs = f"""
            WITH b AS (
              SELECT doc_id, band, sig[band*4+1 : band*4+4] AS key
              FROM {DOC_AUX}
              CROSS JOIN (SELECT unnest(range(16)) AS band)
            )
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
            FROM b l JOIN b r
              ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
        """
    # distinct char-3-grams of each doc's normalized text t (CTE n)
    char3_grams = """g AS (SELECT doc_id,
                     CASE WHEN length(t) >= 3 THEN
                       list_distinct(list_transform(
                         range(1, length(t) - 1),
                         i -> substr(t, i::int, 3)))
                     ELSE [] END AS grams
              FROM n)"""
    d = {
        "doc_exact_dedup": f"""
            SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
            FROM documents
            GROUP BY trim(regexp_replace(lower(text), '{WSP}', ' ', 'g'))
        """,
        "doc_quality": f"""
            WITH f AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                     length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '{WSP}')) END AS n_words,
                     ' ' || lower(text) || ' ' AS p
              FROM documents),
            r AS (
              SELECT doc_id, n_chars, n_words,
                     CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0 END AS alpha_ratio,
                     CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0 END AS punct_ratio,
                     ((instr(p,' the ')>0)::int + (instr(p,' a ')>0)::int
                      + (instr(p,' an ')>0)::int + (instr(p,' and ')>0)::int
                      + (instr(p,' or ')>0)::int + (instr(p,' of ')>0)::int
                      + (instr(p,' to ')>0)::int + (instr(p,' in ')>0)::int
                      + (instr(p,' is ')>0)::int + (instr(p,' it ')>0)::int
                     ) / 10.0 AS stop_ratio,
                     CASE WHEN n_chars BETWEEN 200 AND 20000 THEN 1.0
                          WHEN n_chars >= 50 THEN 0.5 ELSE 0.0 END AS len_band
              FROM f)
            SELECT doc_id, n_chars, n_words,
                   round(alpha_ratio, 6) AS alpha_ratio,
                   round(punct_ratio, 6) AS punct_ratio,
                   round(stop_ratio, 6) AS stop_ratio,
                   round(0.4*alpha_ratio + 0.3*stop_ratio + 0.2*len_band
                         + 0.1*(1.0 - least(punct_ratio*10.0, 1.0)), 6) AS quality
            FROM r
        """,
        "doc_token_counts": f"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '{WSP}')) END AS ws_tokens,
                   CASE WHEN trim(text) = '' THEN 0 ELSE
                     len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
                                     x -> x <> '')) END::BIGINT AS alnum_runs,
                   length(regexp_replace(text, '{SYMCLS}', '', 'g'))::BIGINT
                     AS symbol_chars,
                   (CASE WHEN trim(text) = '' THEN 0 ELSE
                      len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'),
                                      x -> x <> '')) END
                    + floor((length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) + 3) / 4)
                    + length(regexp_replace(text, '{SYMCLS}', '', 'g'))
                   )::BIGINT AS bpe_token_est
            FROM documents
        """,
        "doc_lang_id": """
            WITH s AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
            sc AS (SELECT doc_id,
              ((instr(p,' the ')>0)::int + (instr(p,' and ')>0)::int
               + (instr(p,' of ')>0)::int + (instr(p,' to ')>0)::int) AS s_en,
              ((instr(p,' der ')>0)::int + (instr(p,' und ')>0)::int
               + (instr(p,' die ')>0)::int + (instr(p,' nicht ')>0)::int) AS s_de,
              ((instr(p,' le ')>0)::int + (instr(p,' la ')>0)::int
               + (instr(p,' les ')>0)::int + (instr(p,' est ')>0)::int) AS s_fr,
              ((instr(p,' el ')>0)::int + (instr(p,' los ')>0)::int
               + (instr(p,' que ')>0)::int + (instr(p,' es ')>0)::int) AS s_es
              FROM s)
            SELECT doc_id,
                   CASE WHEN greatest(s_en,s_de,s_fr,s_es) = 0 THEN 'unknown'
                        WHEN s_de = greatest(s_en,s_de,s_fr,s_es) THEN 'de'
                        WHEN s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
                        WHEN s_es = greatest(s_en,s_de,s_fr,s_es) THEN 'es'
                        ELSE 'fr' END AS lang_pred,
                   greatest(s_en,s_de,s_fr,s_es) AS lang_score
            FROM sc
        """,
        "doc_ngram_jaccard": f"""
            WITH n AS (SELECT doc_id,
                              trim(regexp_replace(lower(text), '{WSP}', ' ', 'g')) AS t
                       FROM documents WHERE doc_id < 6),
            g AS (SELECT doc_id,
                         CASE WHEN length(t) >= 3 THEN
                           list_distinct(list_transform(
                             range(1, length(t) - 1),
                             i -> substr(t, i::int, 3)))
                         ELSE [] END AS grams
                  FROM n)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.grams, b.grams))
                         / len(list_distinct(list_concat(a.grams, b.grams))),
                         6) AS jaccard
            FROM g a JOIN g b ON a.doc_id < b.doc_id
        """,
        # --- data-op oracles over the refimpl aux parquet (dataops_fixtures)
        "doc_fingerprint_fnv": f"""
            SELECT doc_id, fingerprint FROM {DOC_AUX}
        """,
        "doc_minhash_pairs": band16_pairs,
        "doc_near_dup_dedup": band16_pairs,
        "doc_simhash_candidates": f"""
            WITH c AS (
              SELECT doc_id, simhash, i AS chunk_idx,
                     (simhash >> (i*16)) & 65535 AS chunk_val
              FROM {DOC_AUX}
              CROSS JOIN (SELECT unnest(range(4)) AS i)
            )
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                   bit_count(xor(l.simhash, r.simhash))::INT AS hamming
            FROM c l JOIN c r
              ON l.chunk_idx = r.chunk_idx AND l.chunk_val = r.chunk_val
                 AND l.doc_id < r.doc_id
        """,
        # incremental dedup: the derived new batch (recrawls + fresh texts
        # + a within-batch double) replayed in SQL; survivors = fresh
        # texts' min-id holders
        "doc_incremental_dedup": f"""
            WITH nb AS (
              SELECT doc_id + 1000000 AS doc_id, text, lang, source
              FROM documents WHERE doc_id % 10 IN (0, 1)
              UNION ALL
              SELECT doc_id + 2000000, text || ' fresh ' || doc_id,
                     lang, source
              FROM documents WHERE doc_id % 10 IN (2, 3)
              UNION ALL
              SELECT doc_id + 3000000, text || ' fresh ' || doc_id,
                     lang, source
              FROM documents WHERE doc_id % 10 = 2),
            norm AS (SELECT doc_id, lang, source,
                            trim(regexp_replace(lower(text), '{WSP}',
                                                ' ', 'g')) AS nt
                     FROM nb),
            corp AS (SELECT DISTINCT trim(regexp_replace(lower(text),
                                          '{WSP}', ' ', 'g')) AS nt
                     FROM documents),
            surv AS (SELECT MIN(doc_id) AS doc_id FROM norm
                     WHERE nt NOT IN (SELECT nt FROM corp)
                     GROUP BY nt)
            SELECT n.doc_id, n.lang, n.source
            FROM norm n JOIN surv USING (doc_id)
        """,
        # DSIR weights: tokens bucketed via the refimpl FNV vocab map
        # (tok_buckets aux — SQL cannot compute FNV); add-one smoothed
        # bucket models, per-doc mean log ratio. n_buckets literal must
        # match DSIR_N_BUCKETS.
        "doc_dsir_weights": f"""
            WITH tok AS (
              SELECT doc_id, lang,
                     unnest(list_filter(
                       string_split_regex(lower(text), '{WSP}'),
                       x -> x <> '')) AS token
              FROM documents),
            tb AS (SELECT t.doc_id, t.lang, a.bucket
                   FROM tok t JOIN {TOK_BUCKETS} a USING (token)),
            bw AS (SELECT bucket, COUNT(*) AS q_n,
                          COUNT(*) FILTER (WHERE lang = 'en') AS p_n
                   FROM tb GROUP BY bucket),
            tot AS (SELECT SUM(q_n) AS q_tot, SUM(p_n) AS p_tot FROM bw),
            w AS (SELECT bucket,
                         ln((p_n + 1.0) / (p_tot + {DSIR_N_BUCKETS}))
                         - ln((q_n + 1.0) / (q_tot + {DSIR_N_BUCKETS}))
                           AS lw
                  FROM bw, tot)
            SELECT tb.doc_id, COUNT(*) AS n_tokens,
                   round(avg(w.lw), 6) AS dsir_weight
            FROM tb JOIN w USING (bucket) GROUP BY tb.doc_id
        """,
        "doc_stratified_sample": f"""
            SELECT d.lang, COUNT(*) AS n_docs,
                   SUM(d.n_chars)::BIGINT AS total_chars
            FROM documents d JOIN {DOC_AUX} a ON d.doc_id = a.doc_id
            WHERE ((a.fingerprint % 20) + 20) % 20 = 0
            GROUP BY d.lang
        """,
        "doc_vocab_top25": f"""
            SELECT token, COUNT(*) AS n FROM (
              SELECT unnest(list_filter(
                       string_split_regex(lower(text), '{WSP}'),
                       x -> x <> '')) AS token
              FROM documents)
            GROUP BY token ORDER BY n DESC, token ASC LIMIT 25
        """,
        "doc_repeated_5grams": f"""
            WITH w AS (
              SELECT list_filter(string_split_regex(lower(text), '{WSP}'),
                                 x -> x <> '') AS ws
              FROM documents),
            s AS (
              SELECT unnest(CASE WHEN len(ws) >= 5 THEN
                       list_transform(generate_series(1, len(ws) - 4),
                         i -> array_to_string(list_slice(ws, i, i + 4), ' '))
                     ELSE []::VARCHAR[] END) AS ngram
              FROM w)
            SELECT ngram, COUNT(*) AS n FROM s
            GROUP BY ngram HAVING COUNT(*) >= 2
            ORDER BY n DESC, ngram ASC LIMIT 20
        """,
        # Bloom-prefiltered membership is EXACT by construction (the
        # bitmap only prunes; maybe-members are verified), so the oracle
        # is the plain anti-join. Within-batch copies both survive —
        # membership vs the corpus, not keep-first.
        "doc_bloom_new_docs": f"""
            WITH nb AS (
              SELECT doc_id + 1000000 AS doc_id, text, lang, source
              FROM documents WHERE doc_id % 10 IN (0, 1)
              UNION ALL
              SELECT doc_id + 2000000, text || ' fresh ' || doc_id,
                     lang, source
              FROM documents WHERE doc_id % 10 IN (2, 3)
              UNION ALL
              SELECT doc_id + 3000000, text || ' fresh ' || doc_id,
                     lang, source
              FROM documents WHERE doc_id % 10 = 2),
            norm AS (SELECT doc_id, lang, source,
                            trim(regexp_replace(lower(text), '{WSP}',
                                                ' ', 'g')) AS nt
                     FROM nb),
            corp AS (SELECT DISTINCT trim(regexp_replace(lower(text),
                                          '{WSP}', ' ', 'g')) AS nt
                     FROM documents)
            SELECT doc_id, lang, source FROM norm
            WHERE nt NOT IN (SELECT nt FROM corp)
        """,
    }
    # duplicate-cluster oracle: transitive closure of the SAME pair set via
    # a recursive CTE (DuckDB computes reachability independently of the
    # Spark label-propagation loop)
    d["doc_dup_clusters"] = f"""
        WITH RECURSIVE p AS ({band16_pairs}),
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
    d["doc_lang_rebalance"] = f"""
        WITH r AS (
          SELECT d.lang, d.n_chars,
                 row_number() OVER (PARTITION BY d.lang
                                    ORDER BY a.fingerprint, d.doc_id) AS rn
          FROM documents d JOIN {DOC_AUX} a ON d.doc_id = a.doc_id)
        SELECT lang, COUNT(*) AS kept_docs,
               SUM(n_chars)::BIGINT AS kept_chars
        FROM r WHERE rn <= 30 GROUP BY lang
    """
    # survivors oracle: the clusters CTE is the doc_dup_clusters oracle
    # verbatim (composition cannot drift from the per-op oracle); keep
    # docs that are not a non-canonical member of any cluster
    d["doc_cluster_dedup_stats"] = f"""
        WITH clusters AS ({d["doc_dup_clusters"]})
        SELECT d.lang, COUNT(*) AS kept_docs,
               SUM(d.n_chars)::BIGINT AS kept_chars
        FROM documents d
        LEFT JOIN clusters c ON d.doc_id = c.id AND c.id <> c.component
        WHERE c.id IS NULL
        GROUP BY d.lang
    """
    # soft-dedup oracle: same clusters CTE; weight is exact integer DIV so
    # both engines agree bit-for-bit (cluster_size >= 1 always)
    d["doc_softdedup_weights"] = f"""
        WITH clusters AS ({d["doc_dup_clusters"]})
        SELECT d.doc_id,
               COALESCE(c.cluster_size, 1)::BIGINT AS cluster_size,
               (1000000 // COALESCE(c.cluster_size, 1))::BIGINT
                 AS weight_ppm
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id
    """
    # representative oracle: deterministic argmax via ROW_NUMBER over the
    # same (quality DESC, id ASC) total order the Spark max_by key encodes
    d["doc_cluster_reps"] = f"""
        WITH clusters AS ({d["doc_dup_clusters"]}),
        q AS ({d["doc_quality"]}),
        r AS (
          SELECT c.component, q.doc_id, q.quality, c.cluster_size,
                 ROW_NUMBER() OVER (
                   PARTITION BY c.component
                   ORDER BY q.quality DESC, q.doc_id ASC) AS rn
          FROM clusters c JOIN q ON q.doc_id = c.id)
        SELECT component, doc_id AS rep_doc_id, quality AS rep_quality,
               cluster_size::BIGINT AS cluster_size
        FROM r WHERE rn = 1
    """
    # novelty oracle: same span construction as doc_duplicate_spans; the
    # first occurrence of a span is its minimum owning doc id
    d["doc_span_novelty"] = f"""
        WITH w AS (SELECT doc_id,
                          list_filter(string_split_regex(lower(text),
                                                         '{WSP}'),
                                      x -> x <> '') AS ws
                   FROM documents),
        s AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(ws) >= 8 THEN
                    list_transform(generate_series(1, len(ws) - 7),
                      i -> array_to_string(list_slice(ws, i, i + 7), ' '))
                  ELSE []::VARCHAR[] END)) AS span
              FROM w),
        c AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY span)
                       AS first_doc
              FROM s)
        SELECT doc_id, COUNT(*) AS n_spans,
               SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)::BIGINT
                 AS n_novel,
               (SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                 * 1000000) // COUNT(*) AS novel_ppm
        FROM c GROUP BY doc_id
    """
    # source-overlap oracle: the SAME pair set as doc_minhash_pairs,
    # rolled up to canonically-ordered source pairs
    d["doc_source_overlap"] = f"""
        WITH p AS ({band16_pairs}),
        tagged AS (
          SELECT least(da.source, db.source) AS source_a,
                 greatest(da.source, db.source) AS source_b,
                 p.id_a, p.id_b
          FROM p JOIN documents da ON p.id_a = da.doc_id
                 JOIN documents db ON p.id_b = db.doc_id),
        np AS (SELECT source_a, source_b, COUNT(*) AS n_pairs
               FROM tagged GROUP BY source_a, source_b),
        m AS (SELECT DISTINCT source_a, source_b, id FROM (
                SELECT source_a, source_b, id_a AS id FROM tagged
                UNION ALL
                SELECT source_a, source_b, id_b AS id FROM tagged)),
        nd AS (SELECT source_a, source_b, COUNT(*) AS n_docs
               FROM m GROUP BY source_a, source_b)
        SELECT np.source_a, np.source_b, np.n_pairs, nd.n_docs
        FROM np JOIN nd USING (source_a, source_b)
    """
    # streaming-fuzzy-dedup oracle: replay bucket ownership from the aux
    # signature parquet (the same sig-slice banding as doc_minhash_pairs);
    # owner = min doc_id per (band, slice), survivor = owns ALL its bands.
    # Valid because the stream's micro-batches ascend by doc_id, so
    # streamed first-seen == global min id.
    d["doc_streaming_fuzzy_dedup"] = f"""
        WITH b AS (
          SELECT doc_id, band, sig[band*4+1 : band*4+4] AS key
          FROM {DOC_AUX}
          CROSS JOIN (SELECT unnest(range(16)) AS band)),
        own AS (SELECT band, key, MIN(doc_id) AS owner
                FROM b GROUP BY band, key)
        SELECT b.doc_id
        FROM b JOIN own ON b.band = own.band AND b.key = own.key
        GROUP BY b.doc_id
        HAVING SUM(CASE WHEN own.owner = b.doc_id THEN 0 ELSE 1 END) = 0
    """
    # contamination oracle compares via the n-gram STRINGS (the Spark side
    # joins on xxhash64 of the same strings; identical counts unless the
    # 64-bit hash collides within the ~25k-shingle fixture — vanishingly
    # unlikely, and a collision would surface as a hash-compare mismatch)
    d["doc_contamination"] = f"""
        WITH w AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(ws) >= 5 THEN
                   list_transform(generate_series(1, len(ws) - 4),
                     i -> array_to_string(list_slice(ws, i, i + 4), ' '))
                 ELSE []::VARCHAR[] END) AS gs
          FROM (SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '{WSP}'),
                                   x -> x <> '') AS ws
                FROM documents)),
        t AS (SELECT doc_id, unnest(gs) AS g FROM w WHERE doc_id >= 25),
        e AS (SELECT doc_id AS eval_id, unnest(gs) AS g FROM w
              WHERE doc_id < 25)
        SELECT t.doc_id, e.eval_id, COUNT(*) AS shared_ngrams
        FROM t JOIN e USING (g) GROUP BY t.doc_id, e.eval_id
    """
    # sliding-window chunking: same start sequence + trailing-window
    # coverage filter + word slices, md5 pins the chunk content
    d["doc_chunks"] = f"""
        WITH w AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '{WSP}'),
                             x -> x <> '') AS ws
          FROM documents),
        c AS (
          SELECT doc_id, ws, len(ws) AS n,
                 list_filter(
                   CASE WHEN len(ws) > 0
                        THEN generate_series(1, len(ws), 48)
                        ELSE []::BIGINT[] END,
                   i -> i = 1 OR i - 48 + 64 - 1 < len(ws)) AS starts
          FROM w),
        t AS (SELECT doc_id, ws, unnest(starts) AS s FROM c)
        SELECT doc_id, (s - 1) // 48 AS chunk_id,
               len(list_slice(ws, s, s + 63)) AS chunk_words,
               length(array_to_string(list_slice(ws, s, s + 63), ' '))
                 AS chunk_chars,
               md5(array_to_string(list_slice(ws, s, s + 63), ' '))
                 AS chunk_md5
        FROM t
    """
    # greedy sequence packing: the chunks CTE is the doc_chunks oracle
    # verbatim; the greedy fill rule (overflow -> new pack) is replayed
    # exactly by a linear recursive CTE per bucket
    d["doc_packed_sequences"] = f"""
        WITH RECURSIVE chunks AS ({d["doc_chunks"]}),
        ch AS (
          SELECT doc_id, chunk_id, chunk_words,
                 ((doc_id % 8) + 8) % 8 AS bucket,
                 row_number() OVER (PARTITION BY ((doc_id % 8) + 8) % 8
                                    ORDER BY doc_id, chunk_id) AS rn
          FROM chunks),
        rec(bucket, rn, doc_id, chunk_id, fill, pack) AS (
          SELECT bucket, rn, doc_id, chunk_id, chunk_words, 0::BIGINT
          FROM ch WHERE rn = 1
          UNION ALL
          SELECT c.bucket, c.rn, c.doc_id, c.chunk_id,
                 CASE WHEN r.fill + c.chunk_words > 256
                      THEN c.chunk_words ELSE r.fill + c.chunk_words END,
                 CASE WHEN r.fill + c.chunk_words > 256
                      THEN r.pack + 1 ELSE r.pack END
          FROM ch c JOIN rec r ON c.bucket = r.bucket AND c.rn = r.rn + 1)
        SELECT doc_id, chunk_id, bucket, pack AS pack_id FROM rec
    """
    # winnowing: same k-gram md5-prefix hashes, same window-min selection
    d["doc_winnow_fp"] = f"""
        WITH n AS (
          SELECT doc_id,
                 trim(regexp_replace(lower(text), '{WSP}', ' ', 'g')) AS t
          FROM documents),
        g AS (
          SELECT doc_id,
                 CASE WHEN length(t) >= 8 THEN
                   list_transform(generate_series(1, length(t) - 7),
                     i -> substring(md5(substring(t, i::int, 8)), 1, 8))
                 ELSE []::VARCHAR[] END AS grams
          FROM n),
        m AS (
          SELECT doc_id, grams,
                 CASE WHEN len(grams) >= 16 THEN
                   list_transform(generate_series(1, len(grams) - 15),
                     j -> list_min(list_slice(grams, j::int, j::int + 15)))
                 ELSE grams END AS mins
          FROM g)
        SELECT doc_id, len(grams) AS n_grams,
               len(list_distinct(mins)) AS n_fingerprints,
               list_min(mins) AS min_fp
        FROM m
    """
    # weighted mixture sampling: fingerprint threshold classes per source
    # (fingerprint = the refimpl FNV aux parquet, like stratified_sample)
    d["doc_mixture_sample"] = f"""
        SELECT d.source, COUNT(*) AS kept_docs,
               SUM(d.n_chars)::BIGINT AS kept_chars
        FROM documents d JOIN {DOC_AUX} a ON d.doc_id = a.doc_id
        WHERE ((a.fingerprint % 10000) + 10000) % 10000 <
              CASE WHEN d.source IN ('src0','src1','src2','src3','src4')
                     THEN 1000
                   WHEN d.source IN ('src5','src6','src7','src8','src9')
                     THEN 5000
                   ELSE 10000 END
        GROUP BY d.source
    """
    # corpus bigram LM score: same tokenizer class, same add-one model
    d["doc_lm_score"] = f"""
        WITH w AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text),
                   '{WSP}'), x -> x <> '') AS ws
          FROM documents),
        bg AS (
          SELECT doc_id, unnest(CASE WHEN len(ws) >= 2 THEN
                   list_transform(generate_series(1, len(ws) - 1),
                     i -> array_to_string(list_slice(ws, i, i + 1), ' '))
                 ELSE []::VARCHAR[] END) AS bigram
          FROM w),
        v AS (SELECT COUNT(DISTINCT t) AS vocab
              FROM (SELECT unnest(ws) AS t FROM w)),
        c AS (SELECT doc_id, bigram,
                     COUNT(*) OVER (PARTITION BY bigram) AS bg_n,
                     COUNT(*) OVER (
                       PARTITION BY string_split(bigram, ' ')[1]) AS un_n
              FROM bg)
        SELECT doc_id, COUNT(*) AS n_bigrams,
               round(avg(ln((bg_n + 1.0)
                            / (un_n + (SELECT vocab FROM v)))), 6)
                 AS lm_score
        FROM c GROUP BY doc_id
    """
    # per-doc rarest terms: all-integer ranking (df asc, tf desc, token)
    d["doc_rare_terms"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest(list_filter(
                   string_split_regex(lower(text), '{WSP}'),
                   x -> length(x) >= 4)) AS token
          FROM documents),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf
               FROM toks GROUP BY doc_id, token),
        dfk AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        r AS (SELECT tf.doc_id, tf.token, tf.tf, dfk.df,
                     row_number() OVER (PARTITION BY tf.doc_id
                       ORDER BY dfk.df ASC, tf.tf DESC, tf.token ASC) AS rn
              FROM tf JOIN dfk USING (token))
        SELECT doc_id, token, tf, df FROM r WHERE rn <= 3
    """
    # percentile-threshold curation: the quality CTE is the doc_quality
    # oracle verbatim (composition cannot drift from the per-op oracle)
    d["doc_quality_topfrac"] = f"""
        WITH q AS ({d["doc_quality"]}),
        j AS (SELECT q.doc_id, dd.lang, q.quality
              FROM q JOIN documents dd USING (doc_id)),
        r AS (SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY quality DESC, doc_id) AS rn,
                     COUNT(*) OVER (PARTITION BY lang) AS cnt
              FROM j)
        SELECT doc_id, lang FROM r WHERE rn <= ceil(cnt * 0.25)
    """
    _edges = [0] + LENGTH_BANDS
    _band_case = "CASE " + " ".join(
        f"WHEN length(text) < {hi} THEN '{lo}-{hi - 1}'"
        for lo, hi in zip(_edges, _edges[1:])
    ) + f" ELSE '{LENGTH_BANDS[-1]}+' END"
    d["doc_length_bands"] = f"""
        SELECT {_band_case} AS band, COUNT(*) AS n_docs,
               SUM(length(text))::BIGINT AS total_chars,
               MIN(length(text)) AS min_chars,
               MAX(length(text)) AS max_chars
        FROM documents GROUP BY band
    """
    # streaming exact-dedup, batch-equivalence form: ascending-id
    # micro-batches make the streaming survivor set equal the batch
    # min-id-per-distinct-normalized-text answer
    d["doc_streaming_exact_dedup"] = f"""
        SELECT MIN(doc_id) AS doc_id FROM documents
        GROUP BY trim(regexp_replace(lower(text), '{WSP}', ' ', 'g'))
    """
    # duplicated-span exposure: distinct 8-word spans per doc, span
    # shared iff >=2 docs carry it; same tokenizer class as the other
    # n-gram oracles, exact-integer ppm
    d["doc_duplicate_spans"] = f"""
        WITH w AS (SELECT doc_id,
                          list_filter(string_split_regex(lower(text),
                                                         '{WSP}'),
                                      x -> x <> '') AS ws
                   FROM documents),
        s AS (SELECT doc_id, unnest(list_distinct(
                  CASE WHEN len(ws) >= 8 THEN
                    list_transform(generate_series(1, len(ws) - 7),
                      i -> array_to_string(list_slice(ws, i, i + 7), ' '))
                  ELSE []::VARCHAR[] END)) AS span
              FROM w),
        c AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY span) AS nd
              FROM s)
        SELECT doc_id, COUNT(*) AS n_spans,
               SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT
                 AS n_shared,
               (SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1000000)
                 // COUNT(*) AS shared_ppm
        FROM c GROUP BY doc_id
    """
    # deterministic held-out split: portable md5-60bit residue on the
    # stringified doc id, 10% eval
    d["doc_train_eval_split"] = f"""
        WITH t AS (SELECT lang,
                          CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR),
                                     1, 15))::BIGINT % 100 < 10
                               THEN 'eval' ELSE 'train' END AS split,
                          len(list_filter(string_split_regex(lower(text),
                                                             '{WSP}'),
                                          x -> x <> ''))::BIGINT
                            AS n_tokens
                   FROM documents)
        SELECT lang, split, COUNT(*) AS n_docs,
               SUM(n_tokens)::BIGINT AS total_tokens
        FROM t GROUP BY lang, split ORDER BY lang, split
    """
    # substring-dedup removal: same span construction as
    # doc_duplicate_spans (1-based starts here vs Spark's 0-based — each
    # engine is internally consistent, which is all the covered-index
    # join needs); rebuild = surviving tokens ordered by index, single
    # spaces; untouched docs keep original bytes; output content pinned
    # via md5 (identical on both engines)
    d["doc_span_scrubbed"] = f"""
        WITH w AS (SELECT doc_id, text,
                          list_filter(string_split_regex(lower(text),
                                                         '{WSP}'),
                                      x -> x <> '') AS ws
                   FROM documents),
        s AS (SELECT doc_id,
                     unnest(CASE WHEN len(ws) >= 8 THEN
                       list_transform(generate_series(1, len(ws) - 7),
                         i -> array_to_string(list_slice(ws, i, i + 7),
                                              ' '))
                       ELSE []::VARCHAR[] END) AS span,
                     unnest(CASE WHEN len(ws) >= 8 THEN
                       generate_series(1, len(ws) - 7)
                       ELSE []::BIGINT[] END) AS st
              FROM w),
        sh AS (SELECT span FROM (SELECT DISTINCT doc_id, span FROM s)
               GROUP BY span HAVING COUNT(*) >= 2),
        cvx AS (SELECT doc_id,
                       unnest(generate_series(st, st + 7)) AS idx
                FROM s WHERE span IN (SELECT span FROM sh)),
        cv AS (SELECT DISTINCT doc_id, idx FROM cvx),
        tok AS (SELECT doc_id, unnest(ws) AS wd,
                       unnest(generate_series(1, len(ws))) AS idx
                FROM w),
        kept AS (SELECT t.doc_id,
                        array_to_string(list(t.wd ORDER BY t.idx), ' ')
                          AS newt
                 FROM tok t LEFT JOIN cv
                   ON t.doc_id = cv.doc_id AND t.idx = cv.idx
                 WHERE cv.idx IS NULL GROUP BY t.doc_id),
        rem AS (SELECT doc_id, COUNT(*) AS n_removed FROM cv
                GROUP BY doc_id)
        SELECT d.doc_id,
               md5(CASE WHEN rem.n_removed IS NULL THEN d.text
                        ELSE COALESCE(kept.newt, '') END) AS text_md5,
               COALESCE(rem.n_removed, 0)::BIGINT AS n_removed
        FROM documents d
        LEFT JOIN rem USING (doc_id) LEFT JOIN kept USING (doc_id)
    """
    # decontamination scrubbing: identical machinery to doc_span_scrubbed
    # except the banned set = spans of the eval subset (doc_id % 17 == 0)
    d["doc_decontaminated"] = f"""
        WITH w AS (SELECT doc_id, text,
                          list_filter(string_split_regex(lower(text),
                                                         '{WSP}'),
                                      x -> x <> '') AS ws
                   FROM documents),
        s AS (SELECT doc_id,
                     unnest(CASE WHEN len(ws) >= 8 THEN
                       list_transform(generate_series(1, len(ws) - 7),
                         i -> array_to_string(list_slice(ws, i, i + 7),
                                              ' '))
                       ELSE []::VARCHAR[] END) AS span,
                     unnest(CASE WHEN len(ws) >= 8 THEN
                       generate_series(1, len(ws) - 7)
                       ELSE []::BIGINT[] END) AS st
              FROM w),
        sh AS (SELECT DISTINCT span FROM s WHERE doc_id % 17 = 0),
        cvx AS (SELECT doc_id,
                       unnest(generate_series(st, st + 7)) AS idx
                FROM s WHERE span IN (SELECT span FROM sh)),
        cv AS (SELECT DISTINCT doc_id, idx FROM cvx),
        tok AS (SELECT doc_id, unnest(ws) AS wd,
                       unnest(generate_series(1, len(ws))) AS idx
                FROM w),
        kept AS (SELECT t.doc_id,
                        array_to_string(list(t.wd ORDER BY t.idx), ' ')
                          AS newt
                 FROM tok t LEFT JOIN cv
                   ON t.doc_id = cv.doc_id AND t.idx = cv.idx
                 WHERE cv.idx IS NULL GROUP BY t.doc_id),
        rem AS (SELECT doc_id, COUNT(*) AS n_removed FROM cv
                GROUP BY doc_id)
        SELECT d.doc_id,
               md5(CASE WHEN rem.n_removed IS NULL THEN d.text
                        ELSE COALESCE(kept.newt, '') END) AS text_md5,
               COALESCE(rem.n_removed, 0)::BIGINT AS n_removed
        FROM documents d
        LEFT JOIN rem USING (doc_id) LEFT JOIN kept USING (doc_id)
    """
    # balanced shard write-out: the oracle affords the global row_number
    # at test scale; the Spark side must reproduce the SAME rank through
    # its histogram decomposition
    d["doc_shard_assign"] = f"""
        WITH t AS (SELECT doc_id,
                          len(list_filter(string_split_regex(lower(text),
                                                             '{WSP}'),
                                          x -> x <> ''))::BIGINT AS n_tokens
                   FROM documents),
        r AS (SELECT doc_id, n_tokens,
                     ROW_NUMBER() OVER (ORDER BY n_tokens DESC,
                                        doc_id ASC) - 1 AS rank
              FROM t),
        s AS (SELECT *, CASE WHEN (rank // 8) % 2 = 0 THEN rank % 8
                             ELSE 7 - (rank % 8) END AS shard
              FROM r)
        SELECT shard, COUNT(*) AS n_docs,
               SUM(n_tokens)::BIGINT AS total_tokens,
               MIN(rank) AS first_rank
        FROM s GROUP BY shard ORDER BY shard
    """
    # fuzzy incremental dedup: batch synthesized by the SAME rule as the
    # aux tables (FUZZY_* constants interpolated below); batch minhash
    # sigs come from BATCH_AUX (same numpy kernel the Spark pandas UDF
    # calls), band join mirrors doc_minhash_pairs, verify reuses the
    # 3-gram jaccard CTE shape of doc_text_neardup_verified
    d["doc_fuzzy_incremental"] = f"""
        WITH nb AS (
          SELECT doc_id + {FUZZY_RECRAWL_OFFSET} AS doc_id, text, lang, source
          FROM documents WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id + {FUZZY_VARIANT_OFFSET}, text || '{FUZZY_VARIANT_SUFFIX}', lang, source
          FROM documents WHERE doc_id % 10 = 3
          UNION ALL
          SELECT doc_id + {FUZZY_FRESH_OFFSET}, '{FUZZY_FRESH_PREFIX}' || doc_id, lang, source
          FROM documents WHERE doc_id % 10 = 6),
        ba AS (SELECT doc_id, band, sig[band*4+1 : band*4+4] AS key
               FROM {BATCH_AUX}
               CROSS JOIN (SELECT unnest(range(16)) AS band)),
        ca AS (SELECT doc_id, band, sig[band*4+1 : band*4+4] AS key
               FROM {DOC_AUX}
               CROSS JOIN (SELECT unnest(range(16)) AS band)),
        cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
                 FROM ba l JOIN ca r
                   ON l.band = r.band AND l.key = r.key),
        alltx AS (SELECT doc_id, text FROM nb
                  UNION ALL SELECT doc_id, text FROM documents),
        n AS (SELECT doc_id,
                     trim(regexp_replace(lower(text), '{WSP}', ' ', 'g'))
                       AS t
              FROM alltx),
        {char3_grams},
        j AS (SELECT c.id_a,
                     len(list_intersect(a.grams, b.grams))
                     / len(list_distinct(list_concat(a.grams, b.grams)))
                       AS jac
              FROM cand c
              JOIN g a ON a.doc_id = c.id_a
              JOIN g b ON b.doc_id = c.id_b),
        dup AS (SELECT DISTINCT id_a FROM j WHERE jac >= 0.5)
        SELECT doc_id, lang, source FROM nb
        WHERE doc_id NOT IN (SELECT id_a FROM dup)
    """
    # composed text near-dup oracle: minhash banding CTE + exact 3-gram
    # jaccard verify, both already proven by their standalone oracles
    d["doc_text_neardup_verified"] = f"""
        WITH cand AS ({band16_pairs}),
        n AS (SELECT doc_id,
                     trim(regexp_replace(lower(text), '{WSP}', ' ', 'g')) AS t
              FROM documents),
        {char3_grams},
        j AS (SELECT c.id_a, c.id_b,
                     len(list_intersect(a.grams, b.grams))
                     / len(list_distinct(list_concat(a.grams, b.grams)))
                       AS jac
              FROM cand c
              JOIN g a ON a.doc_id = c.id_a
              JOIN g b ON b.doc_id = c.id_b)
        SELECT id_a, id_b, round(jac, 6) AS jaccard
        FROM j WHERE jac >= 0.5
    """
    # composed curation oracle: reuse the quality / lang / token SQL bodies
    # as CTEs so the composition can never drift from the per-op oracles
    d["doc_curation_stats"] = f'''
        WITH q AS ({d["doc_quality"]}),
             l AS ({d["doc_lang_id"]}),
             t AS ({d["doc_token_counts"]}),
             canon AS (
               SELECT min(doc_id) AS doc_id FROM (
                 SELECT doc_id,
                        trim(regexp_replace(lower(text), '{WSP}', ' ', 'g')) AS nt
                 FROM documents)
               GROUP BY nt)
        SELECT d.lang, COUNT(*) AS docs,
               SUM(t.bpe_token_est)::BIGINT AS total_tokens,
               round(avg(q.alpha_ratio), 6) AS avg_alpha
        FROM q JOIN l USING (doc_id) JOIN t USING (doc_id)
               JOIN canon USING (doc_id)
               JOIN documents d USING (doc_id)
        WHERE q.alpha_ratio >= 0.7 AND q.n_words >= 30
          AND l.lang_pred <> 'unknown'
        GROUP BY d.lang
    '''
    # ---- corpus-curation oracles (operators/curate.py) --------------------
    # shared multi-line construction, mirroring _multiline_docs exactly
    # (concat_ws skips NULL CASE branches in both engines)
    _multi = """
        SELECT doc_id, concat_ws(chr(10),
            CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter' END,
            text,
            CASE WHEN doc_id % 2 = 0 THEN 'all rights reserved' END,
            CASE WHEN doc_id % 5 = 0
                 THEN 'cookie notice level ' || (doc_id % 120)::VARCHAR END
          ) AS mtext
        FROM documents
    """
    _mlines = """
        SELECT doc_id, generate_subscripts(sp, 1) - 1 AS pos,
               unnest(sp) AS line
        FROM (SELECT doc_id, string_split(mtext, chr(10)) AS sp FROM multi)
    """
    d["doc_boilerplate_lines"] = f"""
        WITH multi AS ({_multi}),
        lines AS ({_mlines}),
        freq AS (SELECT line, COUNT(DISTINCT doc_id) AS df
                 FROM lines WHERE line <> '' GROUP BY line),
        kept AS (SELECT l.doc_id, l.pos, l.line
                 FROM lines l LEFT JOIN freq f USING (line)
                 WHERE l.line = '' OR f.df IS NULL OR f.df < 50),
        re AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cl,
                      COUNT(*) AS n_kept
               FROM kept GROUP BY doc_id)
        SELECT m.doc_id, md5(coalesce(re.cl, '')) AS clean_md5,
               len(string_split(m.mtext, chr(10)))::BIGINT AS n_lines,
               coalesce(re.n_kept, 0)::BIGINT AS n_kept
        FROM multi m LEFT JOIN re USING (doc_id)
    """
    d["doc_paragraph_dedup"] = f"""
        WITH multi AS ({_multi}),
        lines AS ({_mlines}),
        rk AS (SELECT doc_id, pos, line,
                      row_number() OVER (PARTITION BY line
                                         ORDER BY doc_id, pos) AS rn
               FROM lines WHERE line <> ''),
        kept AS (SELECT doc_id, pos, line FROM rk WHERE rn = 1
                 UNION ALL
                 SELECT doc_id, pos, line FROM lines WHERE line = ''),
        re AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cl,
                      COUNT(*) AS n_kept
               FROM kept GROUP BY doc_id)
        SELECT m.doc_id, md5(coalesce(re.cl, '')) AS clean_md5,
               len(string_split(m.mtext, chr(10)))::BIGINT AS n_lines,
               coalesce(re.n_kept, 0)::BIGINT AS n_kept
        FROM multi m LEFT JOIN re USING (doc_id)
    """
    _stoplist = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
    d["doc_gopher_quality"] = f"""
        WITH w AS (SELECT doc_id, text,
                          list_filter(string_split_regex(lower(text),
                                                         '{WSP}'),
                                      x -> x <> '') AS ws
                   FROM documents),
        m AS (SELECT doc_id,
                     len(ws)::BIGINT AS n_words,
                     coalesce(list_sum(list_transform(ws,
                                                      x -> length(x))),
                              0)::BIGINT AS n_word_chars,
                     len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
                       ::BIGINT AS n_alpha_words,
                     len(list_intersect(list_distinct(ws), {_stoplist}))
                       ::BIGINT AS n_stopwords,
                     (length(text) - length(replace(text, '#', '')))
                       ::BIGINT AS n_hash,
                     ((length(text) - length(replace(text, '...', '')))
                       // 3)::BIGINT AS n_ellipsis
              FROM w)
        SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_stopwords,
               n_hash, n_ellipsis,
               (n_words BETWEEN 50 AND 100000
                AND 3 * n_words <= n_word_chars
                AND n_word_chars <= 10 * n_words
                AND 5 * n_alpha_words >= 4 * n_words
                AND n_hash * 10 <= n_words
                AND n_ellipsis * 10 <= n_words
                AND n_stopwords >= 2)::INT AS keep
        FROM m
    """
    # curation attrition funnel: the gopher CTE is the doc_gopher_quality
    # oracle verbatim (per-doc rules are stage-order independent, so
    # filtering its keep flag after the token band is exact composition)
    d["doc_curation_funnel"] = f"""
        WITH g AS ({d["doc_gopher_quality"]}),
        tb AS (SELECT doc_id, text FROM documents
               WHERE len(list_filter(string_split_regex(lower(text),
                                                        '{WSP}'),
                                     x -> x <> '')) BETWEEN 20 AND 200),
        s2 AS (SELECT tb.doc_id, tb.text FROM tb
               JOIN g USING (doc_id) WHERE g.keep = 1),
        ded AS (SELECT MIN(doc_id) AS doc_id FROM s2
                GROUP BY trim(regexp_replace(lower(text), '{WSP}',
                                             ' ', 'g'))),
        s3 AS (SELECT s2.* FROM s2 JOIN ded USING (doc_id)),
        s4 AS (SELECT s3.* FROM s3 JOIN {DOC_AUX} a USING (doc_id)
               WHERE ((a.fingerprint % 4) + 4) % 4 = 0)
        SELECT 0::BIGINT AS stage, 'raw' AS stage_name,
               COUNT(*) AS n_docs,
               coalesce(sum(length(text)), 0)::BIGINT AS total_chars
        FROM documents
        UNION ALL SELECT 1, 'token_band', COUNT(*),
               coalesce(sum(length(text)), 0)::BIGINT FROM tb
        UNION ALL SELECT 2, 'gopher', COUNT(*),
               coalesce(sum(length(text)), 0)::BIGINT FROM s2
        UNION ALL SELECT 3, 'exact_dedup', COUNT(*),
               coalesce(sum(length(text)), 0)::BIGINT FROM s3
        UNION ALL SELECT 4, 'fp_sample', COUNT(*),
               coalesce(sum(length(text)), 0)::BIGINT FROM s4
    """
    # lined construction mirroring _lined_docs: 8-word lines, first line
    # repeated at the end for doc_id % 4 == 0
    _lined = """
        SELECT doc_id, array_to_string(
            CASE WHEN doc_id % 4 = 0 THEN list_append(ls, ls[1])
                 ELSE ls END, chr(10)) AS text
        FROM (SELECT doc_id,
                     list_transform(
                       range(0, greatest(cast(ceil(len(ws) / 8.0) AS BIGINT),
                                         1)),
                       i -> array_to_string(ws[i*8+1 : i*8+8], ' ')) AS ls
              FROM (SELECT doc_id,
                           list_filter(string_split(text, ' '),
                                       x -> x <> '') AS ws
                    FROM documents))
    """
    d["doc_gopher_repetition"] = f"""
        WITH lt AS ({_lined}),
        lc AS (SELECT doc_id, line, COUNT(*) AS c
               FROM (SELECT doc_id,
                            unnest(string_split(text, chr(10))) AS line
                     FROM lt)
               GROUP BY doc_id, line),
        lstat AS (SELECT doc_id, SUM(c)::BIGINT AS n_lines,
                         SUM(c - 1)::BIGINT AS n_dup_lines,
                         SUM((c - 1) * length(line))::BIGINT
                           AS dup_line_chars
                  FROM lc GROUP BY doc_id),
        wt AS (SELECT doc_id,
                      list_filter(string_split_regex(lower(text), '{WSP}'),
                                  x -> x <> '') AS ws
               FROM lt),
        gl AS (SELECT doc_id,
                      unnest(list_transform(range(1, len(ws)),
                                            i -> ws[i] || ' ' || ws[i+1]))
                        AS gram
               FROM wt),
        gc AS (SELECT doc_id, gram, COUNT(*) AS c
               FROM gl GROUP BY doc_id, gram),
        top AS (SELECT doc_id, gram, c,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY c DESC, gram ASC) AS rn
                FROM gc)
        SELECT s.doc_id, s.n_lines, s.n_dup_lines, s.dup_line_chars,
               greatest(len(w.ws) - 1, 0)::BIGINT AS n_bigrams,
               coalesce(t.gram, '') AS top_bigram,
               coalesce(t.c, 0)::BIGINT AS top_bigram_count,
               (coalesce(t.c, 0) * length(coalesce(t.gram, '')))::BIGINT
                 AS top_bigram_chars
        FROM lstat s
        JOIN wt w USING (doc_id)
        LEFT JOIN (SELECT doc_id, gram, c FROM top WHERE rn = 1) t
          USING (doc_id)
    """
    d["doc_token_budget"] = f"""
        WITH t AS (
          SELECT d.doc_id, d.source,
                 len(list_filter(string_split_regex(lower(d.text), '{WSP}'),
                                 x -> x <> ''))::BIGINT AS n_tokens,
                 a.fingerprint
          FROM documents d JOIN {DOC_AUX} a ON d.doc_id = a.doc_id),
        r AS (
          SELECT source, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY source
                                     ORDER BY fingerprint, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS running,
                 CASE WHEN source IN ('src0','src1','src2','src3','src4')
                        THEN 1200
                      WHEN source IN ('src5','src6','src7','src8','src9')
                        THEN 600 END AS budget
          FROM t)
        SELECT source, COUNT(*) AS kept_docs,
               SUM(n_tokens)::BIGINT AS kept_tokens,
               MAX(running)::BIGINT AS max_running
        FROM r WHERE budget IS NULL OR running <= budget
        GROUP BY source
    """
    # naive exact heavy hitters — the Spark side runs the MG-candidate +
    # exact-verify plan; identical output is exactly the claim under test
    d["doc_heavy_bigrams"] = f"""
        WITH w AS (SELECT list_filter(
                     string_split_regex(lower(text), '{WSP}'),
                     x -> x <> '') AS w
                   FROM documents),
        g AS (SELECT w[i] || ' ' || w[i+1] AS item
              FROM w, unnest(range(1, len(w))) AS r(i)),
        c AS (SELECT item, COUNT(*) AS n FROM g GROUP BY item),
        tot AS (SELECT SUM(n) AS total FROM c)
        SELECT c.item, c.n FROM c, tot WHERE c.n * 1000 > tot.total
    """
    d["doc_collocations"] = f"""
        WITH w AS (SELECT list_filter(
                     string_split_regex(lower(text), '{WSP}'),
                     x -> x <> '') AS w
                   FROM documents),
        bi AS (SELECT w[i] AS w1, w[i+1] AS w2
               FROM w, unnest(range(1, len(w))) AS r(i)),
        c AS (SELECT w1, w2, COUNT(*) AS n_xy FROM bi
              GROUP BY w1, w2 HAVING COUNT(*) >= 5),
        u AS (SELECT unnest(w) AS token FROM w),
        uc AS (SELECT token, COUNT(*) AS n FROM u GROUP BY token)
        SELECT c.w1, c.w2, c.n_xy, x.n AS n_x, y.n AS n_y,
               (c.n_xy * 1000000000::BIGINT) // (x.n * y.n) AS score_ppb
        FROM c JOIN uc x ON c.w1 = x.token JOIN uc y ON c.w2 = y.token
        ORDER BY score_ppb DESC, c.n_xy DESC, c.w1 ASC, c.w2 ASC LIMIT 20
    """
    d["doc_length_deciles"] = """
        WITH h AS (SELECT n_chars::BIGINT AS v, COUNT(*) AS cnt
                   FROM documents GROUP BY v),
        c AS (SELECT v, SUM(cnt) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM h),
        tot AS (SELECT COUNT(*) AS n FROM documents),
        k AS (SELECT i AS quantile, (i * tot.n + 9) // 10 AS need
              FROM tot, unnest(range(1, 10)) AS r(i)),
        b AS (SELECT k.quantile, MIN(c.v) AS boundary
              FROM k JOIN c ON c.cum >= k.need GROUP BY k.quantile)
        SELECT b.quantile, b.boundary, c.cum AS cum_rows
        FROM b JOIN c ON c.v = b.boundary ORDER BY b.quantile
    """
    d["doc_inverted_index"] = f"""
        WITH w AS (SELECT doc_id, list_filter(
                     string_split_regex(lower(text), '{WSP}'),
                     x -> x <> '') AS w
                   FROM documents),
        e AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS token
              FROM w, unnest(range(1, len(w) - 1)) AS r(i)),
        t AS (SELECT DISTINCT doc_id, token FROM e)
        SELECT token, COUNT(*)::BIGINT AS df,
               string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
        FROM t GROUP BY token HAVING COUNT(*) BETWEEN 2 AND 8
    """
    d["doc_related_pairs"] = f"""
        WITH w AS (SELECT doc_id, list_filter(
                     string_split_regex(lower(text), '{WSP}'),
                     x -> x <> '') AS w
                   FROM documents),
        e AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS token
              FROM w, unnest(range(1, len(w) - 1)) AS r(i)),
        t AS (SELECT DISTINCT doc_id, token FROM e),
        dl AS (SELECT token, list(doc_id) AS ids FROM t
               GROUP BY token HAVING COUNT(*) BETWEEN 2 AND 8),
        p AS (SELECT ia AS id_a, ib AS id_b
              FROM dl, unnest(dl.ids) AS ua(ia), unnest(dl.ids) AS ub(ib)
              WHERE ia < ib)
        SELECT id_a, id_b, COUNT(*)::BIGINT AS shared_terms
        FROM p GROUP BY id_a, id_b HAVING COUNT(*) >= 2
    """
    d["doc_bpe_pairs"] = f"""
        WITH wd AS (SELECT unnest(list_filter(
                      string_split_regex(lower(text), '{WSP}'),
                      x -> x <> '')) AS word
                    FROM documents),
        wc AS (SELECT word, COUNT(*) AS n FROM wd GROUP BY word),
        ch AS (SELECT n, string_split(word, '') AS cs FROM wc),
        p AS (SELECT cs[i] AS a, cs[i+1] AS b, n
              FROM ch, unnest(range(1, len(cs))) AS r(i))
        SELECT a, b, SUM(n)::BIGINT AS weighted_count
        FROM p GROUP BY a, b
        ORDER BY weighted_count DESC, a ASC, b ASC LIMIT 20
    """
    d["doc_tfidf_topk"] = f"""
        WITH w AS (SELECT doc_id, unnest(list_filter(
                     string_split_regex(lower(text), '{WSP}'),
                     x -> x <> '')) AS term
                   FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w
               WHERE term IN ('vector', 'window', 'customer')
               GROUP BY doc_id, term),
        dft AS (SELECT term, COUNT(DISTINCT doc_id) AS term_df
                FROM tf GROUP BY term),
        tot AS (SELECT COUNT(*) AS n_docs FROM documents),
        idf AS (SELECT term,
                       (n_docs * 1000000000::BIGINT) // term_df AS idf_ppb
                FROM dft, tot)
        SELECT tf.doc_id, SUM(tf.tf * idf.idf_ppb)::BIGINT AS score_ppb
        FROM tf JOIN idf USING (term)
        GROUP BY tf.doc_id ORDER BY score_ppb DESC, doc_id ASC LIMIT 20
    """
    d["doc_decile_stats"] = """
        WITH h AS (SELECT n_chars::BIGINT AS v, COUNT(*) AS cnt
                   FROM documents GROUP BY v),
        c AS (SELECT v, SUM(cnt) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM h),
        tot AS (SELECT COUNT(*) AS n FROM documents),
        k AS (SELECT i AS quantile, (i * tot.n + 9) // 10 AS need
              FROM tot, unnest(range(1, 10)) AS r(i)),
        b AS (SELECT k.quantile, MIN(c.v) AS boundary
              FROM k JOIN c ON c.cum >= k.need GROUP BY k.quantile),
        asg AS (SELECT d.doc_id, d.n_chars::BIGINT AS v,
                       (1 + COUNT(b.boundary))::INT AS bucket
                FROM documents d LEFT JOIN b ON d.n_chars::BIGINT > b.boundary
                GROUP BY d.doc_id, d.n_chars)
        SELECT bucket, COUNT(*)::BIGINT AS n_docs,
               MIN(v) AS min_v, MAX(v) AS max_v, SUM(v)::BIGINT AS total_v
        FROM asg GROUP BY bucket ORDER BY bucket
    """
    d["doc_pagerank"] = f"""
        WITH w AS (SELECT doc_id, list_filter(
                     string_split_regex(lower(text), '{WSP}'),
                     x -> x <> '') AS w
                   FROM documents),
        g AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS token
              FROM w, unnest(range(1, len(w) - 1)) AS r(i)),
        t AS (SELECT DISTINCT doc_id, token FROM g),
        dl AS (SELECT token, list(doc_id) AS ids FROM t
               GROUP BY token HAVING COUNT(*) BETWEEN 2 AND 8),
        pp AS (SELECT ia AS id_a, ib AS id_b
               FROM dl, unnest(dl.ids) AS ua(ia), unnest(dl.ids) AS ub(ib)
               WHERE ia < ib),
        pairs AS (SELECT id_a, id_b FROM pp
                  GROUP BY id_a, id_b HAVING COUNT(*) >= 2),
        e AS (SELECT id_a AS s, id_b AS t FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
        deg AS (SELECT s, COUNT(*) AS outdeg FROM e GROUP BY s),
        pr0 AS (SELECT s AS node, 1000000000000::BIGINT AS pr FROM deg),
        in1 AS (SELECT e.t AS node, SUM(pr0.pr // deg.outdeg) AS inflow
                FROM e JOIN pr0 ON e.s = pr0.node JOIN deg ON e.s = deg.s
                GROUP BY e.t),
        pr1 AS (SELECT deg.s AS node,
                       150000000000::BIGINT
                       + (COALESCE(in1.inflow, 0) * 85) // 100 AS pr
                FROM deg LEFT JOIN in1 ON deg.s = in1.node),
        in2 AS (SELECT e.t AS node, SUM(pr1.pr // deg.outdeg) AS inflow
                FROM e JOIN pr1 ON e.s = pr1.node JOIN deg ON e.s = deg.s
                GROUP BY e.t),
        pr2 AS (SELECT deg.s AS node,
                       150000000000::BIGINT
                       + (COALESCE(in2.inflow, 0) * 85) // 100 AS pr
                FROM deg LEFT JOIN in2 ON deg.s = in2.node),
        in3 AS (SELECT e.t AS node, SUM(pr2.pr // deg.outdeg) AS inflow
                FROM e JOIN pr2 ON e.s = pr2.node JOIN deg ON e.s = deg.s
                GROUP BY e.t),
        pr3 AS (SELECT deg.s AS node,
                       150000000000::BIGINT
                       + (COALESCE(in3.inflow, 0) * 85) // 100 AS pr
                FROM deg LEFT JOIN in3 ON deg.s = in3.node)
        SELECT node AS doc_id, pr AS pagerank FROM pr3
        ORDER BY pagerank DESC, doc_id ASC LIMIT 20
    """
    d["doc_rank_fusion"] = f"""
        WITH w AS (SELECT doc_id, unnest(list_filter(
                     string_split_regex(lower(text), '{WSP}'),
                     x -> x <> '')) AS term
                   FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w
               WHERE term IN ('vector', 'window', 'customer')
               GROUP BY doc_id, term),
        dft AS (SELECT term, COUNT(DISTINCT doc_id) AS term_df
                FROM tf GROUP BY term),
        tot AS (SELECT COUNT(*) AS n_docs FROM documents),
        idf AS (SELECT term,
                       (n_docs * 1000000000::BIGINT) // term_df AS idf_ppb
                FROM dft, tot),
        s1 AS (SELECT tf.doc_id, SUM(tf.tf * idf.idf_ppb) AS score_ppb
               FROM tf JOIN idf USING (term) GROUP BY tf.doc_id
               ORDER BY score_ppb DESC, doc_id ASC LIMIT 100),
        r1 AS (SELECT doc_id, ROW_NUMBER() OVER
                 (ORDER BY score_ppb DESC, doc_id ASC) AS rank FROM s1),
        s2 AS (SELECT doc_id, len(text)::BIGINT AS l FROM documents
               ORDER BY l DESC, doc_id ASC LIMIT 100),
        r2 AS (SELECT doc_id, ROW_NUMBER() OVER
                 (ORDER BY l DESC, doc_id ASC) AS rank FROM s2),
        u AS (SELECT doc_id, 1000000000 // (60 + rank) AS c FROM r1
              UNION ALL
              SELECT doc_id, 1000000000 // (60 + rank) AS c FROM r2)
        SELECT doc_id, SUM(c)::BIGINT AS fused_ppb FROM u
        GROUP BY doc_id ORDER BY fused_ppb DESC, doc_id ASC LIMIT 20
    """
    d["doc_sequential_ids"] = """
        SELECT doc_id, lang,
               (ROW_NUMBER() OVER (ORDER BY lang, doc_id) - 1)::BIGINT
                 AS seq_id
        FROM documents ORDER BY seq_id
    """
    d["doc_containment_pairs"] = f"""
        WITH cand AS ({band16_pairs}),
        n AS (SELECT doc_id,
                     trim(regexp_replace(lower(text), '{WSP}', ' ', 'g')) AS t
              FROM documents),
        {char3_grams},
        ov AS (SELECT c.id_a, c.id_b,
                      len(list_intersect(a.grams, b.grams))::BIGINT
                        AS n_common,
                      len(a.grams)::BIGINT AS n_a,
                      len(b.grams)::BIGINT AS n_b
               FROM cand c
               JOIN g a ON a.doc_id = c.id_a
               JOIN g b ON b.doc_id = c.id_b),
        s AS (SELECT id_a, id_b, n_common, n_a, n_b,
                     CASE WHEN n_a > 0
                          THEN n_common * 1000000 // n_a END AS cont_a_ppm,
                     CASE WHEN n_b > 0
                          THEN n_common * 1000000 // n_b END AS cont_b_ppm
              FROM ov)
        SELECT * FROM s
        WHERE GREATEST(COALESCE(cont_a_ppm, 0), COALESCE(cont_b_ppm, 0))
              >= 800000
    """
    return d
