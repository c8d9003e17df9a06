"""Text-analysis operators for the training-data pipeline: language ID,
quality scoring, token counting, document fingerprinting.

Design rule: everything SQL-expressible stays JVM-side (these four are, so
their oracles are plain DuckDB SQL); only the content fingerprint uses the
reference's FNV kernel via an Arrow-batched UDF
(dedup.content_fingerprint), the hash the oracles reproduce.

The word-level operators (vocabulary, n-grams, the bigram LM, collocations,
posting lists, tf-idf and rank fusion, and dedup's span operators) read a
``words`` array column: the text tokenized once by ``_words``, as
``queries.common._tok_docs`` builds it (persisted, session-shared), so
none of them tokenizes the corpus a second time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import lookup
from .dedup import WORD_SPLIT_CLASS, WS_CHARS, content_fingerprint

# tiny fixed stopword list — deterministic and SQL-replicable
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# n-gram heuristic language markers (deterministic, oracle-replicable):
# score(lang) = number of marker substrings present, weighted by position
LANG_MARKERS = {
    "en": [" the ", " and ", " of ", " to "],
    "de": [" der ", " und ", " die ", " nicht "],
    "fr": [" le ", " la ", " les ", " est "],
    "es": [" el ", " los ", " que ", " es "],
}


def _padded(col) -> F.Column:
    return F.concat(F.lit(" "), F.lower(col), F.lit(" "))


def language_id(docs: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """N-gram-marker language ID: count marker hits per language, pick the
    max with a deterministic tie-break (score desc, lang asc); no hits ->
    'unknown'. Pure JVM expressions — one projection, no shuffle.
    keep_cols carries extra input columns through (same contract as
    quality_score), so composed curation plans never self-join."""
    padded = _padded(F.col("text"))
    scores = [
        F.struct(
            sum((F.instr(padded, m) > 0).cast("int") for m in markers)
            .alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    # array_max on struct(score, lang): max score, tie -> max lang; to get
    # tie -> MIN lang deterministically, compare on (score, negated-lang) is
    # awkward JVM-side, so sort desc by score then asc by lang via sort_array
    # on struct(-score, lang) and take element 1.
    best = F.sort_array(
        F.array(*[
            F.struct((-s["score"]).alias("neg"), s["lang"].alias("lang"),
                     s["score"].alias("score"))
            for s in scores
        ])
    )[0]
    # layered projection (see quality_score): the three output references
    # to `best` would each rebuild + re-sort the whole marker-score array
    # in a flat select; materialize the struct once, then extract fields
    feats = docs.select(F.col("doc_id"), *[F.col(c) for c in keep_cols],
                        best.alias("_best"))
    return feats.select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        F.when(F.col("_best.score") > 0, F.col("_best.lang"))
        .otherwise(F.lit("unknown")).alias("lang_pred"),
        F.col("_best.score").alias("lang_score"),
    )


def quality_score(docs: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """Deterministic quality features + composite score in [0,1]:
    length band, alpha ratio, punctuation ratio, stopword hit ratio,
    mean word length band. All JVM-side string ops. keep_cols carries
    extra input columns through the projection, so downstream consumers
    (e.g. the percentile filter grouping by language) never need to
    self-join this frame back against its own source scan."""
    text = F.col("text")
    words = F.split(F.trim(text), WORD_SPLIT_CLASS)
    padded = _padded(text)
    # layered projection: every string-heavy feature (regex, split, the
    # 10-instr stopword scan) is computed EXACTLY ONCE in `feats`, and the
    # second select does only cheap arithmetic over those columns. Writing
    # the ratios/score inline in one select re-evaluates each feature per
    # referencing output column (when() branches block codegen common-
    # subexpression elimination), measured ~3x the projection cost;
    # CollapseProject keeps the split because the aliased expressions are
    # non-cheap and multiply referenced.
    # count-of-chars-in-set via translate-delete length diff: identical to
    # length(regexp_replace(text, "[^S]", "")) for an explicit ASCII set S,
    # and ~6x faster (negated-single-char-class regexp_replace rebuilds the
    # string through the Java regex engine per character)
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    feats = docs.select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        F.length(text).alias("_nc"),
        (F.length(text) - F.length(F.translate(text, letters, "")))
        .alias("_na"),
        (F.length(text) - F.length(F.translate(text, ".,;:!?", "")))
        .alias("_np"),
        F.when(F.trim(text) == "", 0).otherwise(F.size(words)).alias("_nw"),
        sum((F.instr(padded, f" {w} ") > 0).cast("int")
            for w in STOPWORDS).alias("_sh"),
    )
    n_chars = F.col("_nc")
    alpha_ratio = F.when(n_chars > 0, F.col("_na") / n_chars).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, F.col("_np") / n_chars).otherwise(0.0)
    stop_ratio = F.col("_sh") / float(len(STOPWORDS))
    len_band = F.when((n_chars >= 200) & (n_chars <= 20000), 1.0) \
        .when(n_chars >= 50, 0.5).otherwise(0.0)
    score = (0.4 * alpha_ratio + 0.3 * stop_ratio + 0.2 * len_band
             + 0.1 * (1.0 - F.least(punct_ratio * 10.0, F.lit(1.0))))
    return feats.select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        n_chars.alias("n_chars"),
        F.col("_nw").alias("n_words"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality"),
    )


def token_counts(docs: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate: alnum runs count 1 per
    ceil(len/4) (the 'four chars per token' rule of thumb) and every
    non-space symbol counts 1. Deterministic and SQL-replicable."""
    text = F.col("text")
    trimmed = F.trim(text)
    ws_tokens = F.when(trimmed == "", 0).otherwise(
        F.size(F.split(trimmed, WORD_SPLIT_CLASS)))
    # translate-delete forms of the char-class counts (see quality_score:
    # identical values, ~6x cheaper than single-char-class regexp_replace).
    # WS_CHARS is regex-escaped; its literal characters are " \t\n\r\f\x0b".
    alnum = ("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
             "0123456789")
    n_sym = F.length(F.translate(text, alnum + " \t\n\r\f\x0b", ""))
    alnum_chars = F.length(text) - F.length(F.translate(text, alnum, ""))
    # maximal-alnum-run count via regex collapse (each run -> one 'x',
    # count the x's): identical to size(filter(split(text, non-alnum+),
    # != '')) — the higher-order filter form is CodegenFallback and ran
    # interpreted per row, measured 15x slower than this codegen'd chain
    alnum_runs = F.when(trimmed == "", 0).otherwise(
        F.length(F.regexp_replace(
            F.regexp_replace(text, "[A-Za-z0-9]+", "x"), "[^x]", "")))
    # layered projection (see quality_score): bpe_token_est re-references
    # the three regex-backed features, which would re-evaluate each regex
    # in a single flat select
    feats = docs.select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        ws_tokens.alias("_wt"),
        alnum_runs.cast("long").alias("_ar"),
        n_sym.cast("long").alias("_ns"),
        alnum_chars.cast("long").alias("_ac"),
    )
    return feats.select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        F.col("_wt").alias("ws_tokens"),
        F.col("_ar").alias("alnum_runs"),
        F.col("_ns").alias("symbol_chars"),
        (F.col("_ar") + F.floor((F.col("_ac") + 3) / 4) + F.col("_ns"))
        .cast("long").alias("bpe_token_est"),
    )


# conservative, RE2-and-Java-compatible PII patterns (no \b, no lookarounds
# — both engines must agree byte-for-byte for the oracle to hold). Kind
# names must yield DIGIT-FREE placeholders ("ip", not "ipv4") so a later
# pattern can never match inside an earlier replacement; the import-time
# assertion below enforces it against every pattern, current and future.
PII_PATTERNS = {
    "ip": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]?\d{0,4}",
}


def _assert_placeholders_inert(patterns: dict) -> None:
    """Fail at import if any pattern could match inside (or overlapping
    into) a placeholder emitted by an earlier-applied pattern — the
    invariant that makes the sequential regexp_replace chain order-safe."""
    import re
    kinds = sorted(patterns)
    for i, earlier in enumerate(kinds):
        placeholder = f"<{earlier.upper()}>"
        for later in kinds[i + 1:]:
            if re.search(patterns[later], placeholder):
                raise AssertionError(
                    f"PII placeholder {placeholder} matches later pattern "
                    f"{later!r}; rename the kind or reorder the patterns")


_assert_placeholders_inert(PII_PATTERNS)


def pii_scrub(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Redact PII-shaped substrings with <KIND> placeholder tokens and count
    matches per kind. Pure JVM regexp ops — one projection, no shuffle, no
    Python in the row path; at 100 TB this runs inside whole-stage codegen
    on the scan. (The log pipeline's keyed-hash anonymizer is the
    REVERSIBLE-mapping path; this is the destructive scrub used before
    publishing a training corpus.)"""
    scrubbed = F.col("text")
    for kind in sorted(PII_PATTERNS):
        scrubbed = F.regexp_replace(scrubbed, PII_PATTERNS[kind],
                                    f"<{kind.upper()}>")
    # counts = placeholder occurrences in the scrubbed text (a literal
    # split, not a second regex pass over the raw text — the regex
    # replaces are the unavoidable cost, everything else is cheap).
    # _assert_placeholders_inert guarantees no later pattern can match
    # inside an earlier replacement; a raw input already containing a
    # literal placeholder token would inflate its count — acceptable for
    # a redaction REPORT (the scrub itself is unaffected).
    counts = [
        (F.size(F.split(scrubbed, f"<{kind.upper()}>", -1)) - 1)
        .cast("long").alias(f"n_{kind}")
        for kind in sorted(PII_PATTERNS)
    ]
    return docs.select(F.col(id_col), *counts,
                       F.length(scrubbed).alias("scrubbed_len"))


def _words(text_col) -> F.Column:
    """Lowercased whitespace tokens, empties dropped (the split emits a
    leading '' for leading whitespace)."""
    return F.filter(F.split(F.lower(text_col), WORD_SPLIT_CLASS),
                    lambda x: x != "")


def word_ngrams(words, n: int) -> F.Column:
    """The word n-grams of an array-of-words column in text order, each
    the space-joined words of one window of ``n`` adjacent words; an empty
    array for fewer than ``n`` words or a null array (JVM-side transform
    over an index sequence, no UDF).

    Pass a MATERIALIZED words column (an attribute such as
    ``F.col("_ws")`` or a pre-tokenized column), not an inline
    ``_words(...)`` expression: the lambda references ``words`` once per
    element, and on the interpreted higher-order path an inline split
    there re-tokenizes the text once per n-gram."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _adjacent_pairs(arr, a: str, b: str) -> F.Column:
    """array<struct<a, b>> of every adjacent (arr[i], arr[i + 1]) pair of a
    string-array column, in order; empty for fewer than two elements."""
    return F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.struct(F.element_at(arr, i).alias(a),
                               F.element_at(arr, i + 1).alias(b)),
        ),
    ).otherwise(F.array().cast(f"array<struct<{a}:string,{b}:string>>"))


def vocab_top(docs: DataFrame) -> DataFrame:
    """Corpus vocabulary build (the token-frequency pass a BPE/tokenizer
    training job starts from): explode whitespace tokens, hash-aggregate
    counts, top-25 with a full deterministic order (count desc, token asc).

    Scale shape: explode -> partial map-side count -> one shuffle on token
    -> TakeOrdered. Token frequency is Zipfian — the hottest tokens are
    exactly where map-side partial aggregation does its work (each
    partition emits one row per distinct token, so the shuffle carries
    vocab-sized, not corpus-sized, data)."""
    return (docs.select(F.explode("words").alias("token"))
            .groupBy("token").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("token")).limit(25))


def repeated_ngrams(docs: DataFrame, min_count: int = 2) -> DataFrame:
    """The 20 most-repeated word 5-grams across the corpus (the repetition /
    boilerplate detector — C4-style cleaning drops documents dominated by
    duplicated lines; at corpus level the top repeated n-grams ARE the
    boilerplate inventory). Every occurrence counts, so duplicated
    documents surface their shingles immediately.

    JVM-side throughout: higher-order transform over an index sequence
    (no UDF) -> explode -> hash count -> TakeOrdered."""
    return (docs.select(F.explode(word_ngrams(F.col("words"), 5))
                        .alias("ngram"))
            .groupBy("ngram").agg(F.count("*").alias("n"))
            .filter(F.col("n") >= min_count)
            .orderBy(F.desc("n"), F.asc("ngram")).limit(20))


def rebalance_by_group(docs: DataFrame, quota: int = 1000) -> DataFrame:
    """Per-group quota cap — the data-mixing step of corpus assembly
    (e.g. at most N documents per language/source so one stratum cannot
    dominate the training mix). Which documents survive is decided by
    content-fingerprint order: deterministic, partitioning-independent,
    and unbiased by input order (row_number over arrival order would keep
    whatever happened to be first).

    Scale shape: this IS executed as a TWO-PHASE per-group top-K —
    Catalyst's rank-limit pushdown (SPARK-37099, the WindowGroupLimit
    physical operator) rewrites `row_number() <= quota` into a PARTIAL
    per-source-partition top-quota BEFORE the shuffle plus a FINAL
    group-level trim after it, so a skewed giant group (quota ≪ group
    size) never sorts in full on one reducer: the shuffle carries at most
    quota x n_map_partitions rows per group. tests pin the
    `WindowGroupLimit ... Partial` node below the Exchange — a
    hand-written two-phase (rank within (group, partition-id) cells, then
    merge) produced the identical candidate flow with one EXTRA shuffle,
    so the declarative form wins."""
    w = Window.partitionBy("lang").orderBy(F.col("_ord"), F.col("doc_id"))
    return (docs.withColumn("_ord", content_fingerprint(F.col("text")))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= quota)
            .drop("_ord", "_rn"))


def chunk_documents(docs: DataFrame, chunk_words: int = 64,
                    stride: int = 48) -> DataFrame:
    """Split documents into fixed-word-budget chunks with overlap — the
    sequence-preparation step before tokenization/packing in a training
    pipeline (stride < chunk_words gives the standard sliding-window
    overlap so no span is lost at chunk boundaries). Returns one row per
    (doc, chunk): (id, chunk_id, chunk_words, chunk_chars, chunk_text).

    JVM-side throughout: tokenize once, then a higher-order transform
    over a stride index sequence builds every chunk in one projection —
    no UDF, no shuffle, no self-join; the explode multiplies rows by
    ~len/stride exactly like the shingle operators. The last window is
    emitted iff it starts within the text (start < n_words), so short
    docs yield exactly one chunk and empty docs yield none."""
    # materialize the word array first: inline split() referenced inside
    # the transform/filter lambdas re-tokenizes per element on the
    # interpreted higher-order path
    base = docs.select(F.col("doc_id"), _words(F.col("text")).alias("_ws"))
    words = F.col("_ws")
    n = F.size(words)
    # chunk start offsets 1, 1+stride, ... — keep a start only while the
    # PREVIOUS window did not already reach the end of the doc (the
    # coverage test is monotone, so only trailing redundant windows drop
    # and chunk ids stay contiguous)
    starts = F.when(n > 0, F.sequence(F.lit(1), n, F.lit(stride))) \
        .otherwise(F.array().cast("array<int>"))
    starts = F.filter(
        starts,
        lambda i: (i == 1) | (i - stride + chunk_words - 1 < n))
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            ((i - 1) / stride).cast("long").alias("chunk_id"),
            F.slice(words, i, chunk_words).alias("ws"),
        ),
    )
    ex = base.select(F.col("doc_id"), F.explode(chunks).alias("c"))
    ws = F.col("c.ws")
    txt = F.concat_ws(" ", ws)
    return ex.select(
        F.col("doc_id"),
        F.col("c.chunk_id").alias("chunk_id"),
        F.size(ws).alias("chunk_words"),
        F.length(txt).alias("chunk_chars"),
        txt.alias("chunk_text"),
    )


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(id, bigram) pairs — the shared scan of both lm_score passes."""
    base = docs.select(F.col("doc_id"), F.col("words").alias("_ws"))
    return base.select(F.col("doc_id"),
                       F.explode(word_ngrams(F.col("_ws"), 2))
                       .alias("bigram"))


def lm_bigram_model(docs: DataFrame,
                    doc_bg: DataFrame | None = None) -> tuple:
    """PASS 1 of the at-scale lm_score deployment: build the corpus bigram
    count model as two vocab-sized DataFrames plus the vocabulary size —
    (bigram_counts(bigram, bg_n), first_word_counts(w1, un_n), vocab).
    Both tables are vocab-sized (map-side partial aggregation; nothing
    corpus-sized shuffles except the (doc, bigram) pairs once), meant to be
    persisted (e.g. parquet) and broadcast at apply time, so the scoring
    pass over a 10^12-doc corpus never rebuilds or shuffles the model."""
    if doc_bg is None:
        doc_bg = _doc_bigrams(docs)
    bg_counts = doc_bg.groupBy("bigram").agg(F.count("*").alias("bg_n"))
    un_counts = (doc_bg
                 .select(F.split(F.col("bigram"), " ").getItem(0).alias("w1"))
                 .groupBy("w1").agg(F.count("*").alias("un_n")))
    return bg_counts, un_counts, _vocab_size(docs)


def _vocab_size(docs: DataFrame) -> int:
    """The corpus vocabulary size V of the lm add-one smoothing: distinct
    words over ``docs.words``. Per-doc array_distinct BEFORE the explode:
    the distinct-count is unchanged, the exploded row volume drops to the
    per-doc distinct vocabulary (guide §2.3, aggregate before you
    shuffle)."""
    return int(docs.select(F.explode(F.array_distinct("words")).alias("t"))
               .agg(F.count_distinct("t")).first()[0])


def lm_score(docs: DataFrame, model: tuple | None = None,
             doc_bg: DataFrame | None = None) -> DataFrame:
    """Statistical language-model quality score (the perplexity-filter
    step of C4/CCNet-style curation, with EXACT corpus counts instead of
    an external KenLM): score(doc) = mean over its bigrams of
    ln P(w2 | w1), where P is the corpus bigram model with add-one
    smoothing over the corpus vocabulary. Low scores flag gibberish /
    boilerplate-unlike text relative to the corpus itself. Returns
    (id, n_bigrams, lm_score) with the score rounded to 6 decimals.

    Two forms, identical answers when the model was built on `docs`:

    - ``model=None`` (single-pass): corpus counts as windows over the
      distinct keys of the SAME (doc, bigram) frame — two vocab-sized
      aggregates (map-side partial agg) joined back on the bigram key,
      then one per-doc mean. This is the reference the two-pass form
      is tested against (tests/test_plans.py).
    - ``model=lm_bigram_model(...)`` (two-pass, the at-scale path and
      the form ``doc_lm_score`` runs, so the oracle-checked one): the
      persisted count model is BROADCAST onto the corpus's (doc, bigram)
      pairs — the corpus scan reaches the per-doc aggregate without a
      single corpus-sized shuffle (the only Exchange left is the doc-keyed
      partial-aggregated mean; plan-pinned in tests/test_plans.py). Counts
      missing from the model score as unseen: P = 1 / (un_n(w1) + V),
      with un_n(w1) = 0 for a first word the model never saw."""
    from pyspark.sql import Window

    if doc_bg is None:
        doc_bg = _doc_bigrams(docs)
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    if model is None:
        bg_n = F.count("*").over(Window.partitionBy("bigram"))
        un_n = F.count("*").over(Window.partitionBy(w1))
        vocab = _vocab_size(docs)
        scored = doc_bg.select(
            F.col("doc_id"),
            F.log((bg_n + F.lit(1.0)) / (un_n + F.lit(float(vocab))))
            .alias("lp"))
    else:
        bg_counts, un_counts, vocab = model
        scored = (doc_bg
                  .withColumn("w1", w1)
                  .join(F.broadcast(bg_counts), on="bigram", how="left")
                  .join(F.broadcast(un_counts), on="w1", how="left")
                  .select(
                      F.col("doc_id"),
                      F.log((F.coalesce(F.col("bg_n"), F.lit(0)) + F.lit(1.0))
                            / (F.coalesce(F.col("un_n"), F.lit(0))
                               + F.lit(float(vocab)))).alias("lp")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.round(F.avg("lp"), 6).alias("lm_score")))


def pack_chunks(chunks: DataFrame, budget: int = 256,
                n_buckets: int = 8) -> DataFrame:
    """Greedy sequence packing: fill fixed word-budget packs from an
    ordered stream of chunks (the step between chunking and tokenization
    that turns ragged documents into dense training sequences). A chunk
    that would overflow the current pack starts a new one; an oversized
    chunk gets a pack of its own. Returns
    (doc_id, chunk_id, bucket, pack_id).

    Deterministic and parallel: chunks are bucketed by doc id and packed
    independently per bucket in (doc_id, chunk_id) order — the bucket is
    the parallelism unit (at corpus scale, thousands of buckets ->
    thousands of independent packing tasks), and keeping a doc's chunks
    adjacent is what you want for sequence hygiene anyway. Packing is
    inherently sequential WITHIN a bucket (the pack break depends on the
    running fill, not a prefix sum), so this is a genuine
    applyInPandas case — the per-group loop is numpy-light and runs once
    per bucket, not per row."""
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_id", T.LongType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("pack_id", T.LongType()),
    ])
    keyed = chunks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("chunk_words").cast("long").alias("w"),
        F.pmod(F.col("doc_id").cast("long"), F.lit(n_buckets))
        .cast("long").alias("bucket"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["doc_id", "chunk_id"],
                              ignore_index=True)
        packs, fill, pid = [], 0, 0
        for w in pdf["w"]:
            if fill > 0 and fill + w > budget:
                pid += 1
                fill = 0
            packs.append(pid)
            fill += w
        return pd.DataFrame({
            "doc_id": pdf["doc_id"], "chunk_id": pdf["chunk_id"],
            "bucket": pdf["bucket"], "pack_id": packs,
        })

    return keyed.groupBy("bucket").applyInPandas(pack, out_schema)


def rare_terms(docs: DataFrame) -> DataFrame:
    """Per-document distinguishing-term extraction: the 3 RAREST terms of
    each doc by corpus document frequency (df asc, then tf desc, then
    token asc — an all-integer ranking, so the result is bit-deterministic
    across engines, unlike a float tf-idf score ordering). Tokens shorter
    than 4 characters are dropped (stopword-ish noise). Returns
    (id, token, tf, df).

    Scale shape: explode -> ONE (doc, token) aggregate, then df as a
    count window over the token key on that same frame (the tf frame is
    already one row per (doc, token), so counting rows per token IS the
    document frequency — no second aggregate branch recomputing the
    explode, no self-join), then rank-limit-pushdown top-k per doc
    (WindowGroupLimit, same as rebalance_by_group). Three narrow
    shuffles on a single linear pipeline: (doc,token) -> token -> doc."""
    from pyspark.sql import Window

    toks = (docs.select(F.col("doc_id"),
                        F.explode(_words(F.col("text"))).alias("token"))
            .filter(F.length("token") >= 4))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    tfdf = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("token")))
    w = Window.partitionBy("doc_id").orderBy(
        F.asc("df"), F.desc("tf"), F.asc("token"))
    return (tfdf.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= 3)
            .select(F.col("doc_id"), "token", "tf", "df"))


def quality_percentile_filter(docs: DataFrame) -> DataFrame:
    """Keep the top quarter of documents by quality score within each lang
    — the percentile-threshold curation step ("keep the best quarter per
    language") that follows quality scoring in a corpus-assembly pipeline.
    Returns (id, group) of the survivors.

    Deterministic: rank ties break on the document id, so the survivor
    set is independent of partitioning and input order. The kept count
    per group is ceil(0.25 * group_size) — integer semantics both engines
    agree on exactly.

    Scale shape: quality is a pure scan-side projection (quality_score
    with keep_cols carrying the group column — NO self-join back to the
    source scan); the filter is ONE shuffle on the group key — the rank
    and count windows share the same partitioning, so Catalyst plans a
    single Exchange. The count window needs the whole group materialized
    (a percentile threshold is a group statistic, unlike the fixed-quota
    rebalance where rank-limit pushdown pre-trims); groups here are
    language-sized strata, partitioned across the cluster by the window
    shuffle."""
    from pyspark.sql import Window

    q = (quality_score(docs, keep_cols=("lang",))
         .select("doc_id", "lang", "quality"))
    wr = Window.partitionBy("lang").orderBy(F.desc("quality"),
                                            F.asc("doc_id"))
    wc = Window.partitionBy("lang")
    return (q.withColumn("_rn", F.row_number().over(wr))
            .withColumn("_cnt", F.count("*").over(wc))
            .filter(F.col("_rn") <= F.ceil(F.col("_cnt") * F.lit(0.25)))
            .select("doc_id", "lang"))


# fixed log-ish length bands, spelled as explicit edges so Spark and any
# oracle engine agree EXACTLY (floor(log2(x)) would hinge on both engines'
# float log rounding at the band edges)
LENGTH_BANDS = [100, 300, 1000, 3000, 10000]


def length_histogram(docs: DataFrame) -> DataFrame:
    """Corpus length-distribution histogram over fixed log-spaced bands —
    the first diagnostic a training-data pipeline runs (truncation rates,
    boilerplate spikes, tokenizer budget planning). Pure scan + a
    band-cardinality shuffle (map-side partial agg): zero Python, no
    global sort — unlike an exact decile split, which is a total-order
    statistic, fixed bands keep the exact answer embarrassingly
    parallel at any scale."""
    c = F.length(F.col("text"))
    band = F.lit(f"{LENGTH_BANDS[-1]}+")
    for hi in reversed(LENGTH_BANDS):
        lo = LENGTH_BANDS[LENGTH_BANDS.index(hi) - 1] if \
            LENGTH_BANDS.index(hi) > 0 else 0
        band = F.when(c < hi, F.lit(f"{lo}-{hi - 1}")).otherwise(band)
    return (docs.select(band.alias("band"), c.alias("n_chars"))
            .groupBy("band")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars")))


def contamination_check(docs: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Benchmark-decontamination scan: which training documents share at
    least one word 5-gram with an evaluation set (the standard test-set
    leakage check run before training). Returns (doc_id, eval_id,
    shared_ngrams) per contaminated (train, eval) pair.

    Scale shape: both sides explode to DISTINCT per-doc shingle hashes
    (xxhash64 of the n-gram — the join never ships n-gram strings), then
    one equi-join on the hash. The eval side is tiny in practice (thousands
    of benchmark docs vs 10^12 training docs) — broadcast it and the whole
    check is a map-side hash probe over the training scan, no shuffle of
    the corpus. The train side dedups shingles per doc BEFORE the join so
    a doc repeating one leaked phrase k times produces one row, not k."""
    def shingle_hashes(df, out_id):
        # words materialized first (an inline split re-tokenizes once per
        # shingle: measured ~5x the whole operator); hashed BEFORE the
        # per-doc distinct, so colliding shingles count once, as they join
        base = df.select(F.col("doc_id").alias(out_id),
                         _words(F.col("text")).alias("_ws"))
        shingles = F.transform(word_ngrams(F.col("_ws"), 5),
                               lambda g: F.xxhash64(g))
        return base.select(out_id,
                           F.explode(F.array_distinct(shingles)).alias("gh"))

    train = shingle_hashes(docs, "doc_id")
    evals = shingle_hashes(eval_docs, "eval_id")
    return (train.join(F.broadcast(evals), on="gh")
            .groupBy("doc_id", "eval_id")
            .agg(F.count("*").alias("shared_ngrams")))


def fingerprint_sample(docs: DataFrame, modulus: int = 20,
                       keep: int = 0) -> DataFrame:
    """Deterministic content-hash sampling: keep the rows whose text
    fingerprint ≡ keep (mod modulus). The workhorse of reproducible corpus
    curation — the sample is a pure function of the CONTENT, so it is
    stable across runs, cluster sizes, and input orderings, and two teams
    sampling the same corpus get the same documents (unlike
    df.sample(), which is seed-and-partitioning dependent). Narrow —
    one inline fingerprint + filter on the scan, no shuffle, no second
    pass over docs; composes with stratification by grouping the
    survivors."""
    fp = content_fingerprint(F.col("text"))
    return docs.filter(F.pmod(fp, F.lit(modulus)) == F.lit(keep))


def canonical_url(col) -> F.Column:
    """URL canonicalization for web-corpus dedup keys: strip the
    fragment, lowercase scheme+authority, drop default ports (:80 for
    http, :443 for https), collapse trailing path slashes (empty path ->
    '/'), and sort query parameters — so trivially-different spellings of
    one resource collapse to one key before url-level dedup. Path CASE is
    preserved (paths are case-sensitive). Returns a Column; pure JVM
    string/regexp expressions, expressible identically in RE2-based
    engines (every step avoids Java-only regex features)."""
    u1 = F.regexp_replace(col, "#.*", "")
    pre = F.regexp_extract(u1, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*", 0)
    rest = F.substring(u1, F.length(pre) + 1, F.lit(2_000_000_000))
    pre = F.lower(pre)
    pre = F.regexp_replace(pre, "^(http://[^:]*):80$", "$1")
    pre = F.regexp_replace(pre, "^(https://[^:]*):443$", "$1")
    path = F.regexp_replace(rest, r"\?.*", "")
    query = F.regexp_extract(rest, r"\?(.*)", 1)
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    sorted_q = F.concat_ws("&", F.array_sort(F.split(query, "&")))
    return F.concat(
        pre, path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"),
                                                          sorted_q)))


def mixture_sample(docs: DataFrame, rates: dict,
                   default_rate: float = 1.0) -> DataFrame:
    """Deterministic weighted mixture sampling — the data-mixing step
    where each source/domain contributes at its own rate (e.g. books at
    1.0, web at 0.25). A doc of group g survives iff
    pmod(fingerprint, 10^4) < rates.get(g, default) * 10^4, g the
    ``source`` column:
    the decision is a pure function of the CONTENT (not an RNG), so the
    mix is reproducible across runs, cluster sizes, resumes, and input
    orderings, and nested rates are subsets (a 0.1 sample is contained
    in the 0.5 sample — handy for scaling-law ladders).

    Narrow: one inline fingerprint + a literal-map threshold per group,
    filter on the scan — no shuffle, no per-group pass."""
    resolution = 10_000
    fp = content_fingerprint(F.col("text"))
    thr = F.coalesce(
        lookup(F.col("source"),
               {g: int(round(r * resolution)) for g, r in rates.items()}),
        F.lit(int(round(default_rate * resolution))))
    return docs.filter(F.pmod(fp, F.lit(resolution)) < thr)


def collocations(docs: DataFrame, k: int = 20) -> DataFrame:
    """Top-k collocations (PMI-style lift): word bigrams that co-occur far
    more often than their unigram frequencies predict — the phrase-mining
    pass (new-terminology discovery, tokenizer merge candidates, boilerplate
    phrase inventory) every corpus-analysis stack runs.

    Ranking is EXACT INTEGER arithmetic: lift is monotone in
    ``n_xy / (n_x * n_y)`` (the corpus-size factor N is constant within one
    ranking), so we order by ``score_ppb = n_xy * 1e9 // (n_x * n_y)`` —
    bit-identical on any engine, no float division. Ties break by n_xy
    desc, then bigram text. Bigrams seen fewer than 5 times are dropped,
    so one noise pair of two hapaxes cannot top the list.

    Scale shape: bigram + unigram counts are each explode -> map-side
    partial agg -> ONE vocab-sized shuffle (Zipf does the map-side work);
    the two count joins are token-keyed joins between vocab-sized frames —
    the corpus itself never shuffles. No broadcast hint: vocab size scales
    with the corpus (AQE promotes the build side while it fits).

    Overflow bounds (the exact-integer contract, stated per product since
    Spark non-ANSI wraps silently where DuckDB errors): the numerator
    ``n_xy * 1e9`` needs n_xy < 9.2e9; the denominator ``n_x * n_y`` needs
    the unigram-count product < 2^63 ~ 9.2e18 (geometric mean < ~3.0e9 per
    word — a stopword pair in a 10^12-token corpus violates this first).
    Past either bound, rank per shard (counts reset per shard) or compute
    the products in DECIMAL(38,0); the 5-occurrence floor does not protect
    the denominator.

    Returns (w1, w2, n_xy, n_x, n_y, score_ppb), k rows.
    """
    wbase = docs.select(F.col("words").alias("_ws"))
    words = F.col("_ws")
    bi = (wbase.select(F.explode(_adjacent_pairs(words, "w1", "w2"))
                       .alias("p"))
          .select("p.w1", "p.w2")
          .groupBy("w1", "w2").agg(F.count("*").alias("n_xy"))
          .filter(F.col("n_xy") >= 5))
    uni = (wbase.select(F.explode(words).alias("token"))
           .groupBy("token").agg(F.count("*").alias("n")))
    return (bi
            .join(uni.select(F.col("token").alias("w1"),
                             F.col("n").alias("n_x")), "w1")
            .join(uni.select(F.col("token").alias("w2"),
                             F.col("n").alias("n_y")), "w2")
            .withColumn("score_ppb",
                        F.expr("CAST(n_xy * CAST(1000000000 AS BIGINT) "
                               "DIV (n_x * n_y) AS BIGINT)"))
            .select("w1", "w2", "n_xy", "n_x", "n_y", "score_ppb")
            .orderBy(F.desc("score_ppb"), F.desc("n_xy"),
                     F.asc("w1"), F.asc("w2"))
            .limit(k))


def exact_quantile_bins(docs: DataFrame, q: int = 10) -> DataFrame:
    """EXACT global quantile boundaries WITHOUT a global sort — the
    data-dependent complement of ``length_histogram``'s fixed bands (corpus
    length profiling, sequence-length bucketing for packing budgets).

    boundary(kappa) for kappa = 1..q-1 is the smallest value v such that
    ``#rows with value <= v  >=  ceil(kappa * n / q)`` — percentile_disc
    semantics, stated as an integer rule so both engines compute the same
    row. The corpus-side work is ONE bounded-cardinality histogram
    aggregate (groupBy value, map-side partials); the cumulative sum and
    boundary selection run on the histogram frame (distinct-value-sized,
    NOT corpus-sized), where a single-partition window is the right plan.
    An exact decile via ORDER BY would be a total-order statistic — a full
    shuffle of the corpus; this is the two-phase form a 10^12-row table
    needs.

    Returns (quantile INT, boundary BIGINT, cum_rows BIGINT), q-1 rows.
    """
    hist = (docs.groupBy(F.col("n_chars").cast("long").alias("v"))
            .agg(F.count("*").alias("cnt")))
    # a single-partition window: its input is the value histogram above
    # (distinct-value-sized, never the corpus — pinned in
    # tests/test_plans.py), so WindowExec's "No Partition Defined" warning
    # is expected here
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.select("v", F.sum("cnt").over(w).alias("cum"))
    n_total = docs.groupBy().agg(F.count("*").alias("n"))
    ks = (n_total.select(
        F.explode(F.sequence(F.lit(1), F.lit(q - 1))).alias("quantile"),
        F.col("n")))
    need = ks.withColumn(
        "need", F.expr(f"CAST((quantile * n + {q} - 1) DIV {q} AS BIGINT)"))
    return (need.join(cum, cum.cum >= need.need)
            .groupBy("quantile")
            .agg(F.min("v").alias("boundary"))
            .join(cum.withColumnRenamed("v", "boundary"), "boundary")
            .select("quantile", "boundary", F.col("cum").alias("cum_rows"))
            .orderBy("quantile"))


def inverted_index(docs: DataFrame, min_len: int = 8,
                   ngram: int = 1) -> DataFrame:
    """Posting-list build for mid-rarity terms — the retrieval-index /
    concordance pass (which documents mention this term/phrase?), df-banded
    so the output is the interesting tail, not the stopword head. With
    ``ngram > 1`` the indexed term is the space-joined word n-gram (phrase
    postings — the exact-phrase-lookup index).

    Postings are emitted as a comma-joined ASCENDING doc-id string: a
    deterministic, engine-neutral surface (array render syntax differs
    across engines; a joined string does not).

    Scale shape: per-doc DISTINCT terms first (array_distinct inside the
    row — dedup before the explode so the shuffle carries (term, doc)
    once, not per occurrence), then one term-keyed shuffle. The df band
    [2, 8] bounds every posting list (8 ids), so no
    collect_set can blow up on a stopword; the min_len filter drops the
    short-term head scan-side.

    Returns (token, df BIGINT, postings STRING).
    """
    posts = _posting_ids(docs, 8, min_len, ngram)
    return posts.select(
        "token", "df",
        F.array_join(
            F.transform(F.array_sort("ids"), lambda x: x.cast("string")),
            ",").alias("postings"))


def _posting_ids(docs: DataFrame, max_df: int, min_len: int,
                 ngram: int) -> DataFrame:
    """Shared posting-list core: (token, df BIGINT, ids array) with df in
    [2, max_df] — so every ids array is bounded by max_df."""
    docs = docs.select("*", F.col("words").alias("_pws"))
    words = F.col("_pws")
    terms = word_ngrams(words, ngram) if ngram > 1 else words
    toks = F.array_distinct(
        F.filter(terms, lambda x: F.length(x) >= min_len))
    return (docs.select(F.col("doc_id"), F.explode(toks).alias("token"))
            .groupBy("token")
            .agg(F.collect_set("doc_id").alias("ids"))
            .withColumn("df", F.size("ids").cast("long"))
            .filter((F.col("df") >= 2) & (F.col("df") <= max_df)))


def related_doc_pairs(docs: DataFrame, min_shared: int = 2,
                      max_df: int = 8) -> DataFrame:
    """Related-document candidate pairs via shared MID-RARITY phrases: two
    docs are related when they co-occur on >= min_shared posting lists of
    df-banded terms (the "more like this" retrieval pass, and a third
    candidate generator for near-dup mining alongside MinHash-LSH and
    SimHash — rare-phrase co-occurrence catches partial overlap the
    whole-document sketches dilute).

    Scale shape: the pair explosion is bounded BY CONSTRUCTION — every
    posting list has <= max_df ids, so each term emits <= C(max_df, 2)
    pairs regardless of corpus size (contrast a naive token self-join,
    where one stopword emits 10^12 x 10^12 pairs). One term-keyed shuffle
    builds the lists; the pair aggregate shuffles only candidate pairs.

    Returns (id_a, id_b, shared_terms BIGINT), id_a < id_b, unordered set.
    """
    posts = _posting_ids(docs, max_df, 1, 3)
    pairs = (posts.select(F.explode("ids").alias("id_a"), "ids")
             .select("id_a", F.explode("ids").alias("id_b"))
             .filter(F.col("id_a") < F.col("id_b")))
    return (pairs.groupBy("id_a", "id_b")
            .agg(F.count("*").alias("shared_terms"))
            .filter(F.col("shared_terms") >= min_shared))


def bpe_pair_counts(docs: DataFrame, k: int = 20) -> DataFrame:
    """One round of the BPE-trainer inner loop: the top-k adjacent symbol
    pairs, weighted by word frequency — the distributed-expensive step of
    byte-pair-encoding tokenizer training (each merge round picks the
    heaviest pair; this computes that ranking from the corpus).

    Scale shape: the corpus collapses to the word-frequency table FIRST
    (one vocab-sized shuffle with map-side partials doing the Zipf work);
    pair extraction and weighting then run on the VOCAB frame — the
    corpus is never touched again, which is exactly how production BPE
    trainers structure the count (word counts once, merge rounds on the
    vocab). Iterating merges = re-running this on a vocab frame with the
    winning pair concatenated — driver rounds over vocab-sized data.

    Exact integer weights; order pinned (weighted_count desc, a, b).
    Returns (a STRING, b STRING, weighted_count BIGINT), k rows.
    """
    wc = (docs.select(F.explode(_words(F.col("text"))).alias("word"))
          .groupBy("word").agg(F.count("*").alias("n")))
    pairs = _adjacent_pairs(F.split(F.col("word"), ""), "a", "b")
    return (wc.select(F.explode(pairs).alias("p"), "n")
            .groupBy("p.a", "p.b")
            .agg(F.sum("n").alias("weighted_count"))
            .orderBy(F.desc("weighted_count"), F.asc("a"), F.asc("b"))
            .limit(k))


def tfidf_topk(docs: DataFrame, terms: list, k: int = 20) -> DataFrame:
    """Ranked retrieval: top-k documents for a bag-of-terms query under
    tf-idf scoring with an exact-integer idf (idf_ppb = N * 1e9 DIV df) —
    float-free on purpose so the ranking is bit-identical on any engine
    (log-idf changes WEIGHTS, not which docs the index structure touches).

    Scale shape: the scan keeps only query-term hits (the filter runs
    inside the per-row higher-order function, so the exploded frame is
    (matching docs x |terms|)-sized, not corpus-sized); df and the doc
    count are computed in-plan and broadcast back (|terms|+1 rows — no
    driver collect); the only shuffles are keyed on the tiny hit frame.
    A production index would read df from the posting-list table instead
    of recounting — same plan from the join onward.

    Overflow bounds (the exact-integer contract): ``n_docs * 1e9`` needs
    n_docs < 9.2e9 (a 10^12-doc corpus exceeds it — drop to idf per shard
    or DECIMAL(38,0) there); the score sum needs
    ``sum(tf * idf_ppb) < 2^63`` per doc, i.e. per-doc query-term hits x
    idf_ppb below 9.2e18 — idf_ppb <= 1e9 * n_docs / df, so rare terms in
    huge corpora hit this before common ones. Spark non-ANSI wraps
    silently past either bound while DuckDB errors.

    Returns (doc_id, score_ppb BIGINT), k rows, ties pinned by doc_id.
    """
    hits = F.filter(F.col("words"), lambda x: x.isin(*terms))
    tf = (docs.select(F.col("doc_id"), F.explode(hits).alias("term"))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    df_t = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("term_df"))
    total = docs.groupBy().agg(F.count("*").alias("n_docs"))
    idf = (df_t.crossJoin(F.broadcast(total))
           .select("term",
                   F.expr("CAST(n_docs * CAST(1000000000 AS BIGINT) "
                          "DIV term_df AS BIGINT)").alias("idf_ppb")))
    return (tf.join(F.broadcast(idf), "term")
            .groupBy("doc_id")
            .agg(F.sum(F.col("tf") * F.col("idf_ppb")).alias("score_ppb"))
            .orderBy(F.desc("score_ppb"), F.asc("doc_id"))
            .limit(k))


def quantile_bucket_stats(docs: DataFrame, q: int = 10) -> DataFrame:
    """Per-quantile-bucket corpus stats: compose ``exact_quantile_bins``
    into a bucket ASSIGNMENT (row -> which decile band) and aggregate each
    band (the length-stratified corpus profile: how many docs and chars
    live in each decile of the length distribution).

    Bucket rule, engine-neutral: bucket = 1 + #boundaries STRICTLY below
    the value (so value == boundary_k lands in bucket k, matching the
    percentile_disc boundary semantics of exact_quantile_bins).

    Scale shape: the boundary frame is q-1 rows — broadcast; the
    assignment is a broadcast non-equi join + per-row count, so the
    corpus is scanned once and shuffled only by the q-sized bucket key
    for the final aggregate (map-side partials collapse it).

    Returns (bucket INT, n_docs, min_v, max_v, total_v), <= q rows.
    """
    bounds = (exact_quantile_bins(docs, q=q)
              .select("boundary"))
    v = F.col("n_chars").cast("long")
    assigned = (docs.select(F.col("doc_id"), v.alias("v"))
                .join(F.broadcast(bounds),
                      F.col("v") > F.col("boundary"), "left")
                .groupBy("doc_id", "v")
                .agg((F.count("boundary") + 1).cast("int").alias("bucket")))
    return (assigned.groupBy("bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.min("v").alias("min_v"),
                 F.max("v").alias("max_v"),
                 F.sum("v").alias("total_v"))
            .orderBy("bucket"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """64-bit document fingerprint over normalized text: the reference's
    FNV-1a (dedup.content_fingerprint, Arrow-batched)."""
    return docs.select(F.col("doc_id"),
                       content_fingerprint(F.col("text"))
                       .alias("fingerprint"))


def rank_fusion_topk(docs: DataFrame, terms: list, k: int = 20,
                     pool: int = 100) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings — the standard way
    to merge heterogeneous scorers (here: tf-idf relevance for a term
    query x a length prior; in production: BM25 x embedding-ANN) without
    calibrating their score scales against each other.

    Exact integers throughout: contribution = 1e9 DIV (60 + rank), so
    fused scores are bit-identical on any engine. Fusion operates on the
    top-``pool`` candidates of EACH ranking (rank lists, not full-corpus
    ranks) — that is both the standard IR formulation and the scale shape:
    each ranking is a TakeOrdered top-pool (no global sort), the
    row_number windows run on pool-sized frames, and the fuse is a
    pool-sized full outer join.

    Returns (doc_id, fused_ppb BIGINT), k rows, ties pinned by doc_id.
    """
    # both ranking windows run single-partition: their inputs are
    # top-`pool` frames (tfidf_topk's limit / the TakeOrdered length prior
    # — pinned in tests/test_plans.py), never the corpus, so WindowExec's
    # "No Partition Defined" warning is expected here
    r1 = (tfidf_topk(docs, terms, k=pool)
          .withColumn("rank", F.row_number().over(
              Window.orderBy(F.desc("score_ppb"), F.asc("doc_id"))))
          .select("doc_id", "rank"))
    r2 = (docs.select("doc_id", F.length("text").cast("long").alias("len"))
          .orderBy(F.desc("len"), F.asc("doc_id")).limit(pool)
          .withColumn("rank", F.row_number().over(
              Window.orderBy(F.desc("len"), F.asc("doc_id"))))
          .select("doc_id", "rank"))
    contrib = F.expr("CAST(1000000000 DIV (60 + rank) AS BIGINT)")
    fused = (r1.select("doc_id", contrib.alias("c"))
             .unionAll(r2.select("doc_id", contrib.alias("c")))
             .groupBy("doc_id")
             .agg(F.sum("c").alias("fused_ppb")))
    return (fused.orderBy(F.desc("fused_ppb"), F.asc("doc_id")).limit(k))
