"""Corpus-curation operators for web-scale training-data pipelines:
line-frequency boilerplate removal (C4/CCNet style), cross-document
paragraph dedup, Gopher-style quality rules, newest-crawl-per-URL
selection, and host blocklist filtering.

Design rule (same as operators/text.py): everything here is SQL-expressible
and stays JVM-side — no Python in the row path, so every operator has a
plain DuckDB oracle. The reference pipeline has no corpus-curation stage;
these extend the engine for the Common-Crawl-style corpus the north rule
targets (pages/documents at 10^12-row scale).

Scale notes are per-operator; the common theme is that line-granularity
work shuffles a (line, doc) stream keyed by the line text. Keying by
xxhash64(line) instead would halve shuffle width, but a 64-bit key starts
colliding (and silently conflating distinct lines) around ~4B distinct
lines, which a 10^12-doc corpus exceeds — so the exact operators key by the
line string itself and the docstrings say what the approximate variant
would change.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import STOPWORDS, _words

# paragraph boundary for the line operators: literal newline (Java-regex and
# RE2 agree on it; documents carrying \r\n should be normalized upstream)
LINE_SEP = "\n"


def _exploded_lines(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, line) with pos 0-based in document order; trailing empty
    lines are kept (Spark split(limit=-1) and DuckDB string_split agree)."""
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), LINE_SEP, -1))
        .alias("pos", "line"),
    )


def _reassemble(docs: DataFrame, kept: DataFrame, text_col: str,
                id_col: str) -> DataFrame:
    """Rebuild (id, text_clean, n_lines, n_kept) from surviving (id, pos,
    line) rows. collect_list is per-document — a document fits in one task
    by definition, so this agg is safe at any corpus size; array_sort on
    struct(pos, line) restores original line order deterministically."""
    clean = (kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"]),
            LINE_SEP).alias("text_clean"),
        F.count("*").alias("n_kept")))
    base = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), LINE_SEP, -1)).alias("n_lines"))
    # left join keeps documents whose every line was removed (empty result)
    return (base.join(clean, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("text_clean", F.lit("")).alias("text_clean"),
                    F.col("n_lines").cast("long").alias("n_lines"),
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept")))


def remove_frequent_lines(docs: DataFrame, min_docs: int = 50,
                          text_col: str = "text", id_col: str = "doc_id"
                          ) -> DataFrame:
    """C4/CCNet-style boilerplate removal: drop every line that occurs in
    >= min_docs DISTINCT documents (nav menus, cookie banners, copyright
    footers), keep everything else in original order. Empty lines are
    structural, never counted and never removed. Returns (id, text_clean,
    n_lines, n_kept).

    Scale shape: one exploded (id, line) stream; document-frequency is a
    two-level agg (groupBy(line, id) partial-dedups map-side before the
    distinct count, so hot boilerplate lines don't funnel raw row streams
    into one reducer). The boilerplate table itself is bounded by
    total_lines/min_docs and is usually tiny relative to the corpus, so
    the removal is a BROADCAST left-anti join and the full corpus never
    shuffles for the filter step."""
    lines = _exploded_lines(docs, text_col, id_col)
    # two-level distinct: (line, id) dedup first => partial agg both levels
    freq = (lines.filter(F.col("line") != "")
            .groupBy("line", id_col).agg(F.lit(1))
            .groupBy("line").agg(F.count("*").alias("df")))
    boiler = freq.filter(F.col("df") >= min_docs).select("line")
    kept = lines.join(F.broadcast(boiler), "line", "left_anti")
    return _reassemble(docs, kept, text_col, id_col)


def dedup_paragraphs(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Cross-document exact paragraph (line) dedup, keep-first: for each
    distinct non-empty line, only the occurrence with the smallest
    (doc_id, pos) survives; empty lines always survive (structure, not
    content). The RefinedWeb/Dolma recipe for inter-document repetition at
    paragraph granularity. Returns (id, text_clean, n_lines, n_kept).

    Scale shape: winner-per-line is min(struct(id, pos)) — a plain agg with
    map-side partials, no window. The join back is big-to-big keyed by line
    text: unavoidable for exact semantics (see module docstring on why not
    a 64-bit hash key); Catalyst gets a sort-merge join whose both sides
    partial-agg first."""
    lines = _exploded_lines(docs, text_col, id_col)
    ne = lines.filter(F.col("line") != "")
    winner = ne.groupBy("line").agg(
        F.min(F.struct(F.col(id_col).alias("id"), F.col("pos").alias("pos")))
        .alias("w"))
    kept_ne = (ne.join(winner, "line")
               .filter((F.col("w.id") == F.col(id_col))
                       & (F.col("w.pos") == F.col("pos")))
               .select(id_col, "pos", "line"))
    kept = kept_ne.unionByName(lines.filter(F.col("line") == ""))
    return _reassemble(docs, kept, text_col, id_col)


def gopher_quality(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   min_words: int = 50, max_words: int = 100_000,
                   keep_cols: tuple = ()) -> DataFrame:
    """Gopher-style (Rae et al. 2021, appendix A1.1) document quality rules,
    re-expressed in EXACT INTEGER arithmetic so the keep decision is
    bit-reproducible across engines (no float ratios on the output
    surface):

      word count in [min_words, max_words]
      mean word length in [3, 10]      <=> 3*n_words <= chars <= 10*n_words
      >= 80% of words contain a letter <=> 5*n_alpha_words >= 4*n_words
      '#' and '...' each <= 10% of words (symbol-to-word ratio)
      >= 2 distinct stopwords present  (the "natural language" check)

    Pure JVM expressions over one projection — runs inside whole-stage
    codegen on the scan, no shuffle, no Python."""
    words = _words(F.col(text_col))
    text = F.col(text_col)
    n_words = F.size(words).cast("long")
    n_word_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]"))).cast("long")
    n_stop = F.size(F.array_intersect(
        F.array_distinct(words),
        F.array(*[F.lit(s) for s in STOPWORDS]))).cast("long")
    n_hash = (F.length(text)
              - F.length(F.replace(text, F.lit("#")))).cast("long")
    n_ellipsis = F.floor(
        (F.length(text) - F.length(F.replace(text, F.lit("..."))))
        / F.lit(3)).cast("long")
    # layered projection (see gopher_repetition): the `keep` conjunction
    # references every feature again, and flat-select higher-order exprs
    # re-evaluate per reference
    feats = docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n_words.alias("n_words"),
        n_word_chars.alias("n_word_chars"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stopwords"),
        n_hash.alias("n_hash"),
        n_ellipsis.alias("n_ellipsis"))
    nw = F.col("n_words")
    keep = (nw.between(min_words, max_words)
            & (3 * nw <= F.col("n_word_chars"))
            & (F.col("n_word_chars") <= 10 * nw)
            & (5 * F.col("n_alpha_words") >= 4 * nw)
            & (F.col("n_hash") * 10 <= nw)
            & (F.col("n_ellipsis") * 10 <= nw)
            & (F.col("n_stopwords") >= 2))
    return feats.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        "n_words", "n_word_chars", "n_alpha_words",
        "n_stopwords", "n_hash", "n_ellipsis",
        keep.cast("int").alias("keep"))


def gopher_repetition(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Gopher-style (Rae et al. 2021) within-document repetition signals:
    duplicate-line count and characters, plus the most common word bigram
    and the characters it covers. Everything is doc-local, so the whole
    operator is ONE zero-shuffle projection over the scan — repetition
    scoring of a 10^12-doc corpus never moves data, the ideal shape. (An
    explode+groupBy(doc, line) formulation computes the same numbers but
    shuffles the exploded corpus; doc-local array ops win at any scale.
    Duplicate-line detection is O(L log L) per doc via a sorted-adjacent
    scan, not O(L^2) nested filters.)

    Mode tie-break: among equal-count bigrams the lexicographically
    smallest wins (sorted array + strict-greater update), matching
    ORDER BY count DESC, gram ASC in SQL. Integer outputs only."""
    text = F.col(text_col)
    lines = F.split(text, LINE_SEP, -1)
    n_lines = F.size(lines).cast("long")
    sl = F.array_sort(lines)
    n_dup_lines = (n_lines - F.size(F.array_distinct(lines))).cast("long")
    # chars in duplicate line occurrences (every occurrence beyond the
    # first): adjacent-equal scan over the sorted array
    adj = F.zip_with(
        F.slice(sl, 1, F.greatest(F.size(sl) - 1, F.lit(0))),
        F.slice(sl, 2, F.greatest(F.size(sl) - 1, F.lit(0))),
        lambda a, b: F.when(a == b, F.length(b)).otherwise(F.lit(0)))
    dup_line_chars = F.aggregate(
        adj, F.lit(0).cast("long"), lambda acc, x: acc + x)
    words = _words(text)
    nw = F.size(words)
    grams = F.array_sort(F.zip_with(
        F.slice(words, 1, F.greatest(nw - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(nw - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b)))
    # mode of the sorted gram array via a running (current-run, best-run)
    # accumulator; strict > keeps the first (smallest) gram on ties
    acc0 = F.struct(F.lit("").alias("cur"), F.lit(0).cast("long").alias("c"),
                    F.lit("").alias("best"),
                    F.lit(0).cast("long").alias("bc"))

    def step(acc, x):
        nc = F.when(x == acc["cur"], acc["c"] + 1).otherwise(F.lit(1))
        better = nc > acc["bc"]
        return F.struct(
            x.alias("cur"), nc.alias("c"),
            F.when(better, x).otherwise(acc["best"]).alias("best"),
            F.when(better, nc).otherwise(acc["bc"]).alias("bc"))

    mode = F.aggregate(grams, acc0, step)
    # layered projection: flat-select output columns re-evaluate their
    # whole subtree (the three `mode` references each re-ran the gram
    # build + sort + fold; when()/higher-order exprs are CodegenFallback
    # and get no CSE) — materialize the heavy intermediates once
    feats = docs.select(
        F.col(id_col),
        n_lines.alias("_nl"),
        n_dup_lines.alias("_ndl"),
        dup_line_chars.alias("_dlc"),
        F.size(grams).cast("long").alias("_nb"),
        mode.alias("_mode"))
    return feats.select(
        F.col(id_col),
        F.col("_nl").alias("n_lines"),
        F.col("_ndl").alias("n_dup_lines"),
        F.col("_dlc").alias("dup_line_chars"),
        F.col("_nb").alias("n_bigrams"),
        F.col("_mode.best").alias("top_bigram"),
        F.col("_mode.bc").alias("top_bigram_count"),
        (F.col("_mode.bc") * F.length("_mode.best")).cast("long")
        .alias("top_bigram_chars"))


def token_budget_cap(docs: DataFrame, budgets: dict,
                     default_budget: int | None = None,
                     group_col: str = "source", text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Cap each group (source/domain/lang) at a TOKEN budget instead of a
    document quota — the unit corpus mixing is actually planned in. A doc
    survives iff the cumulative token count of the group's docs up to and
    including it (in content-fingerprint order: deterministic,
    partitioning- and input-order-independent, same ordering rule as
    rebalance_by_group) stays <= the group's budget; groups without a
    budget pass through (default_budget=None) or get default_budget.

    Scale shape: unlike the rank-limit in rebalance_by_group, a running
    SUM has no WindowGroupLimit pushdown, so the window sorts each group
    on one reducer; a bucketed two-pass form that avoids that sort was
    slower at sf0.1 and sf1.0 (BENCH/dual_path_audit.md). Emits the
    surviving docs plus their token count and running total."""
    from pyspark.sql import Window

    from .dedup import content_fingerprint

    fp = content_fingerprint(F.col(text_col))
    n_tokens = F.size(_words(F.col(text_col))).cast("long")
    items = [F.lit(x) for kv in sorted(budgets.items()) for x in kv]
    budget = F.coalesce(
        F.element_at(F.create_map(*items), F.col(group_col)).cast("long"),
        F.lit(default_budget).cast("long"))
    w = (Window.partitionBy(group_col).orderBy("fp", id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    t = (docs.withColumn("fp", fp).withColumn("n_tokens", n_tokens)
         .withColumn("running_tokens", F.sum("n_tokens").over(w))
         .withColumn("budget", budget))
    return (t.filter(F.col("budget").isNull()
                     | (F.col("running_tokens") <= F.col("budget")))
            .drop("fp"))


def latest_by_key(df: DataFrame, key_cols: Sequence[str], order_col: str,
                  payload_cols: Sequence[str]) -> DataFrame:
    """Newest-row-per-key (the recrawl dedup of a web corpus: keep the
    latest capture per canonical URL). One hash agg keyed by key_cols using
    max_by over struct(order, payload) — deterministic under order ties via
    the payload tie-break, partial-aggregates map-side, and never
    materializes a window or sort. Emits key_cols + payload_cols +
    latest_<order_col> + n_versions."""
    ordkey = F.struct(F.col(order_col), *[F.col(c) for c in payload_cols])
    aggs = [F.max_by(F.col(c), ordkey).alias(c) for c in payload_cols]
    return df.groupBy(*key_cols).agg(
        *aggs,
        F.max(order_col).alias(f"latest_{order_col}"),
        F.count("*").alias("n_versions"))


def filter_blocked_hosts(pages: DataFrame, blocked_hosts: Iterable[str],
                         url_col: str = "url") -> DataFrame:
    """Drop pages whose URL host is on a blocklist (spam/adult/SEO domain
    lists are a standard first gate of web-corpus curation). The blocklist
    is a driver-side list turned into a BROADCAST left-anti join — the
    corpus never shuffles; at 10^12 rows this stays a scan-side filter.
    Adds a 'host' column to the survivors."""
    spark = pages.sparkSession
    bl = spark.createDataFrame([(h,) for h in sorted(set(blocked_hosts))],
                               "host string")
    host = F.regexp_extract(F.col(url_col), "^[a-z]+://([^/]+)", 1)
    return (pages.withColumn("host", host)
            .join(F.broadcast(bl), "host", "left_anti"))


def dsir_weights(docs: DataFrame, target="lang = 'en'",
                 n_buckets: int = 256, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023, arXiv:2302.03169): score every document
    by how much more likely its tokens are under the TARGET distribution
    (rows where `target` holds — the high-quality / in-domain slice) than
    under the raw corpus distribution. Features are hashed unigram buckets
    (fnv1a(token) % n_buckets — the paper's hashed n-gram model);
    bucket unigram models are add-one smoothed; the weight is the per-token
    mean log-likelihood ratio. Downstream selection = sample/top-k by
    weight (rebalance/mixture operators compose).

    Scale shape: two passes over the exploded tokens. Pass 1 reduces to
    n_buckets rows (map-side partial agg; the global totals are a window
    over those few rows, never over data). Pass 2 joins the BROADCAST
    per-bucket log-ratio table back and folds per doc — the corpus is
    never shuffled by anything wider than (doc_id). Token hashing is an
    Arrow-batched pandas UDF (FNV parity with the refimpl oracle); swap in
    xxhash64 for a pure-JVM pipeline when cross-engine parity is not
    required."""
    from ..functions import fnv1a_col

    is_t = F.expr(target) if isinstance(target, str) else target
    tok = (docs.select(F.col(id_col), is_t.alias("_is_target"),
                       F.explode(_words(F.col(text_col))).alias("token"))
           .withColumn("bucket",
                       F.pmod(fnv1a_col(F.col("token")),
                              F.lit(n_buckets)).cast("int")))
    bw = tok.groupBy("bucket").agg(
        F.count("*").alias("q_n"),
        F.sum(F.col("_is_target").cast("long")).alias("p_n"))
    tot = bw.agg(F.sum("q_n").alias("q_tot"), F.sum("p_n").alias("p_tot"))
    lw = (bw.crossJoin(F.broadcast(tot))
          .withColumn(
              "lw",
              F.log((F.col("p_n") + 1.0)
                    / (F.col("p_tot") + F.lit(float(n_buckets))))
              - F.log((F.col("q_n") + 1.0)
                      / (F.col("q_tot") + F.lit(float(n_buckets)))))
          .select("bucket", "lw"))
    return (tok.join(F.broadcast(lw), "bucket")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.round(F.avg("lw"), 6).alias("dsir_weight")))


def attrition_funnel(stages: Sequence, text_col: str = "text") -> DataFrame:
    """Stage-by-stage survivor accounting for a curation pipeline — the
    report every corpus run ships with ("raw 10.2B -> lang 7.9B ->
    quality 4.1B -> dedup 2.6B"). Takes [(stage_name, DataFrame), ...]
    where each frame is the survivor set AFTER that stage, and emits one
    row per stage: (stage, stage_name, n_docs, total_chars) with stage =
    position, so attrition between any two stages is a subtraction.

    Each stage contributes one COUNT/SUM aggregate — a 1-row reduction,
    partials map-side — and the rows are unioned driver-free. Stages
    usually share a lineage prefix; persist the common upstream frame if
    the scheduler would otherwise recompute it per stage."""
    parts = []
    for i, (name, df) in enumerate(stages):
        parts.append(df.agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum(F.length(F.col(text_col))), F.lit(0))
            .cast("long").alias("total_chars"))
            .select(F.lit(i).cast("long").alias("stage"),
                    F.lit(name).alias("stage_name"),
                    "n_docs", "total_chars"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def shard_assign_balanced(docs: DataFrame, n_shards: int = 8,
                          size_col: str = "n_tokens",
                          id_col: str = "doc_id") -> DataFrame:
    """Token-balanced training-shard assignment WITHOUT a global sort —
    the write-out step of a curation pipeline: spread documents over
    ``n_shards`` output shards so every shard carries a near-equal token
    load (greedy snake/boustrophedon over the size-descending order, the
    classic LPT-style heuristic: shard loads differ by at most one
    document's tokens per round).

    The global rank a snake assignment needs is a TOTAL-ORDER statistic;
    computing it with one row_number window would single-partition the
    corpus. Instead it decomposes exactly (same trick as
    exact_quantile_bins):

        rank(doc) = #docs with a LARGER size   (histogram cumsum — the
                    window input is distinct-size-sized, not corpus-sized)
                  + row_number among EQUAL sizes ordered by id
                    (a size-keyed window: one corpus shuffle on the size
                    value, which the equi-join on size reuses)

    so the corpus is shuffled ONCE (on size) and the only single-partition
    window runs over the size histogram. A degenerate size distribution
    (10^9 docs of one exact size) concentrates that one window partition —
    salt the equal-size rank by id-hash buckets and offset per bucket if
    a corpus is that pathological.

    Returns the input columns + (rank BIGINT, shard BIGINT); rank is the
    0-based global (size desc, id asc) position — deterministic, both
    engines."""
    hist = (docs.groupBy(F.col(size_col).cast("long").alias("_sz"))
            .agg(F.count("*").alias("_cnt")))
    # cumulative count of STRICTLY larger sizes in one single-partition
    # window: its input is the size histogram, never the corpus, so
    # WindowExec's "No Partition Defined" warning is expected here
    from pyspark.sql import Window
    wh = (Window.orderBy(F.desc("_sz"))
          .rowsBetween(Window.unboundedPreceding, -1))
    off = hist.select(
        "_sz", F.coalesce(F.sum("_cnt").over(wh), F.lit(0)).alias("_off"))
    we = Window.partitionBy("_sz").orderBy(id_col)
    ranked = (docs.withColumn("_sz", F.col(size_col).cast("long"))
              .join(off, "_sz")
              .withColumn("rank", (F.col("_off")
                                   + F.row_number().over(we) - 1)
                          .cast("bigint"))
              .drop("_off", "_sz"))
    pos = F.pmod(F.col("rank"), F.lit(n_shards))
    return ranked.withColumn(
        "shard",
        F.when(F.pmod(F.expr(f"rank DIV {n_shards}"), F.lit(2)) == 0, pos)
        .otherwise(F.lit(n_shards - 1) - pos).cast("bigint"))


def sequential_ids(df: DataFrame, key_cols: Sequence[str],
                   out_col: str = "seq_id",
                   num_partitions: int = 0) -> DataFrame:
    """Contiguous 0-based ordinals in ``key_cols`` order WITHOUT a global
    sort — the scalable form of zipWithIndex, and the standard packaging
    step that gives every training document a stable dense id (sample
    indexing, resume bookkeeping, deterministic data order).

    A plain ``row_number() OVER (ORDER BY key)`` single-partitions the
    corpus. This decomposes the total order the classic two-phase way:
    range-partition on the key (ordered, non-overlapping partitions),
    sort WITHIN each partition (partition-local, no exchange), freeze the
    layout, then ``ordinal = offset(partition) + local record number``.
    The local record number comes from ``monotonically_increasing_id``
    re-based to each partition's minimum — NOT from a window partitioned
    by partition-id, which would force a SECOND corpus-wide exchange
    (Catalyst cannot see that physical placement already clusters the
    pid column; observed as an extra hashpartitioning(_pid) exchange in
    the executed plan). Offsets are a prefix sum over the NUM-PARTITIONS-
    sized (count, min-id) frame, broadcast back. ONE corpus shuffle
    total; the only unpartitioned window runs over the partition-stat
    frame. Complements ``shard_assign_balanced`` which decomposes via a
    VALUE histogram: that form needs bounded key cardinality, this form
    needs key UNIQUENESS.

    Determinism: mono-id VALUES are layout-dependent, but only the
    (value - per-partition min) DIFFERENCE is used; rows are pre-sorted
    by the unique key inside each partition, so the difference equals the
    key's rank within the partition — reproducible for any layout. (The
    per-partition contiguity of mono ids is pinned by this module's
    tests: the output must be exactly the dense 0..n-1 sequence.)

    Correctness contract: ``key_cols`` must be a UNIQUE key of ``df``.
    The sampled range boundaries do not affect the result for unique keys
    (an ordinal is a property of the global order, wherever the cut
    lands), but EQUAL keys straddling a boundary would receive
    partition-dependent ordinals — add a tiebreaker column instead.

    Returns the input columns + ``out_col`` (BIGINT, 0-based, dense).
    """
    from pyspark.sql import Window

    from .graph import _truncate

    keys = [F.col(k) for k in key_cols]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # freeze the layout AFTER stamping pid + mono id: counts and ranks
    # must see the same physical placement and the same id values
    part = _truncate(df.repartitionByRange(n, *keys)
                     .sortWithinPartitions(*keys)
                     .withColumn("_pid", F.spark_partition_id())
                     .withColumn("_mid", F.monotonically_increasing_id()),
                     eager=True)
    stats = part.groupBy("_pid").agg(F.count("*").alias("_cnt"),
                                     F.min("_mid").alias("_mn"))
    # prefix offsets in one single-partition window: its input is the
    # per-partition stat frame (one row per shuffle partition), never the
    # corpus, so WindowExec's "No Partition Defined" warning is expected
    wh = (Window.orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1))
    off = stats.select(
        "_pid", "_mn",
        F.coalesce(F.sum("_cnt").over(wh), F.lit(0)).alias("_off"))
    return (part.join(F.broadcast(off), "_pid")
            .withColumn(out_col,
                        (F.col("_off") + F.col("_mid") - F.col("_mn"))
                        .cast("bigint"))
            .drop("_pid", "_mid", "_mn", "_off"))
