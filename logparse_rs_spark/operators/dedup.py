"""Deduplication operators over a documents table (training-data pipeline
components; no reference counterpart — designed Spark-first for 100 TB).

Strategies:
- exact_dedup          : hash-groupBy on a normalized-text digest. One shuffle
                         on a 64-bit key; min_by keeps the canonical survivor.
- minhash_near_dup     : shingle -> minhash (k permutations, vectorized numpy)
                         -> band buckets -> self-join within buckets ->
                         connected pairs. Candidate generation is a
                         groupBy(band_key) instead of an O(n^2) cross join;
                         at scale each band bucket is tiny, and the band key
                         is uniform by construction (it's a hash).
- simhash_candidates   : 64-bit simhash + Hamming-ball banding (4 x 16-bit
                         chunks -> near-dup candidates must share a chunk).
- ngram_overlap_pairs  : exact char-n-gram overlap counts for a candidate
                         pair list (the verify stage after LSH), scored by
                         one vectorized bitmask kernel; ngram_jaccard and
                         containment_pairs divide its counts JVM-side.

All heavy per-doc math is Arrow-batched numpy; joins are equi-joins on
hash-uniform keys (no skew); the driver collects only what passes
shared.collect_if_fits' exact size gate.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..shared import SIMHASH_MAX_PAIRS, collect_if_fits, fits, shared

# deterministic 64-bit mix constants (splitmix64)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)

# ---- worker-global gram memo for the pair-verify kernel --------------------
#
# The verify UDFs live in this importable module, so a reused Python worker
# (spark.python.worker.reuse, the default) resolves these globals ONCE per
# worker process and keeps them across tasks (guide §4.5) — a doc appearing
# in candidate pairs across many tasks/batches has its gram set built once
# per worker, not once per batch. Two representations per (n, text):
#
# - a sorted uint64 code array (the universal form), and
# - when the worker's observed gram universe is small (< _GRAM_BITS_CAP
#   distinct grams so far), an arbitrary-precision int BITMASK over a
#   worker-local gram->bit index. The masks of a batch's texts pack into
#   one uint8 matrix, so |A ∩ B| for a whole batch of pairs is one numpy
#   AND + LUT popcount (_pair_counts). Bit indices are append-only, so
#   masks built earlier remain valid as the index grows; a text seen after
#   the cap, or containing past-cap grams, simply has no mask and its
#   pairs fall back to the sorted-array merge. Both paths are exact (same
#   code set); parity is property-tested.
#
# Memory: the memo is cleared past _GRAM_CACHE_MAX entries (~2.5 KB/array +
# mask bytes <= cap/8 per entry); the bit index is bounded by the cap.
_GRAM_CACHE_MAX = 200_000
_GRAM_BITS_CAP = 1 << 16
_GRAM_MEMO: dict = {}
_GRAM_BITS: dict = {}


def _gram_entry(t: str, n: int):
    """(sorted uint64 array, size, mask-or-None) for a normalized text,
    memoized per worker process."""
    key = (n, t)
    e = _GRAM_MEMO.get(key)
    if e is None:
        if len(_GRAM_MEMO) >= _GRAM_CACHE_MAX:
            _GRAM_MEMO.clear()
        g = _gram_hash_np(t, n)
        idx = _GRAM_BITS.setdefault(n, {})
        mask = 0
        get = idx.get
        for h in g.tolist():
            i = get(h)
            if i is None:
                if len(idx) >= _GRAM_BITS_CAP:
                    mask = None
                    break
                i = len(idx)
                idx[h] = i
            mask |= 1 << i
        e = (g, g.size, mask)
        _GRAM_MEMO[key] = e
    return e


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)


def _gram_rows(texts, n: int):
    """The vectorized gram state of a sequence of normalized texts, row i
    for texts[i]: their masks packed into one (rows, ceil(bits/8)) uint8
    matrix, the gram-set sizes, which rows have a mask, and each row's
    _gram_entry (the exact form of a row whose text fell past the cap)."""
    entries = [_gram_entry(t or "", n) for t in texts]
    nbytes = max(1, (len(_GRAM_BITS.get(n, {})) + 7) // 8)
    m = np.zeros((len(entries), nbytes), dtype=np.uint8)
    sizes = np.zeros(len(entries), dtype=np.int64)
    have = np.zeros(len(entries), dtype=bool)
    for row, e in enumerate(entries):
        sizes[row] = e[1]
        if e[2] is not None:
            m[row] = np.frombuffer(e[2].to_bytes(nbytes, "little"),
                                   dtype=np.uint8)
            have[row] = True
    return m, sizes, have, entries


def _pair_counts(rows, ra: np.ndarray, rb: np.ndarray):
    """(n_common, n_a, n_b) int64 arrays for the row pairs (ra[k], rb[k])
    of one _gram_rows state: one numpy AND + LUT popcount over the packed
    masks for the whole batch instead of a Python loop per pair (measured
    ~10x on the verify stage), and the exact sorted-array merge for a
    pair with a side past the bitmask cap."""
    m, sizes, have, entries = rows
    inter = _POP8[m[ra] & m[rb]].sum(axis=1, dtype=np.int64)
    for k in np.nonzero(~(have[ra] & have[rb]))[0].tolist():
        inter[k] = np.intersect1d(entries[ra[k]][0], entries[rb[k]][0],
                                  assume_unique=True).size
    return inter, sizes[ra], sizes[rb]


def _batch_counts(keys_a: pd.Series, keys_b: pd.Series, text_of, n: int):
    """(n_common, n_a, n_b) frame for one Arrow batch of pairs keyed by
    ids or texts: the batch's distinct keys become the rows of one
    _gram_rows state, so each doc costs one memo lookup per batch however
    many of its pairs the batch holds. ``text_of`` maps a key to its
    normalized text."""
    codes, keys = pd.factorize(pd.concat([keys_a, keys_b], ignore_index=True))
    k = len(keys_a)
    inter, na, nb = _pair_counts(_gram_rows([text_of(x) for x in keys], n),
                                 codes[:k], codes[k:])
    return pd.DataFrame({"n_common": inter, "n_a": na, "n_b": nb},
                        index=keys_a.index)


def _bcast_norm_texts(docs: DataFrame, text_col: str, id_col: str):
    """Broadcast {id: normalized text} for the pair-verify kernel, or
    None when the ids are not integral, the corpus exceeds the
    driver-collect budget (shared.collect_if_fits: one exact size job
    before any text moves) or an id repeats (the join form scores each
    row of a repeated id against its own text; one dict slot cannot).

    The join form ships each doc's normalized text once PER CANDIDATE
    PAIR through two id-keyed joins — for a 12.6M-pair set over a 14 MB
    corpus that is ~7.5 GB of duplicated text through the exchanges
    (guide §8: shuffle a lightweight proxy, keep the heavy bytes still)."""
    import hashlib

    if not isinstance(docs.schema[id_col].dataType, T.IntegralType):
        return None
    norm = docs.select(F.col(id_col).cast("long").alias("_id"),
                       normalized_text(F.col(text_col)).alias("_nt"))
    spark = docs.sparkSession

    def build():
        tbl = collect_if_fits(norm, "norm_texts")
        if tbl is None:
            return None
        texts = dict(zip(tbl.column("_id").to_pylist(),
                         tbl.column("_nt").to_pylist()))
        if len(texts) < tbl.num_rows:
            return None
        return spark.sparkContext.broadcast(texts)

    # one broadcast per distinct input PLAN per session (canonicalized —
    # expression ids normalized): re-broadcasting the same corpus per
    # call would also rebuild every worker's gram state, because that
    # state is keyed by the broadcast value's identity. ONLY file-backed
    # plans are shared: a LocalRelation/LogicalRDD/Range leaf prints
    # without its data, so two different in-memory corpora with the same
    # schema would collide on the key (caught by a pytest corpus swap).
    plan_str = (norm._jdf.queryExecution().analyzed()
                .canonicalized().toString())
    if any(m in plan_str for m in ("LocalRelation", "LogicalRDD", "Range ")):
        return build()
    return shared(spark, "norm_texts",
                  hashlib.md5(plan_str.encode()).hexdigest(), build)


def _pairs_with_known_ids(pairs: DataFrame, docs: DataFrame,
                          id_col: str) -> DataFrame:
    """Mirror the join form's inner-join semantics on the broadcast
    path: a pair whose side is absent from docs is dropped, not scored
    against an empty text. Ids-only broadcast hash joins — the pair
    frame is never exchanged."""
    ids = docs.select(id_col)
    return (pairs
            .join(F.broadcast(ids.withColumnRenamed(id_col, "id_a")),
                  "id_a")
            .join(F.broadcast(ids.withColumnRenamed(id_col, "id_b")),
                  "id_b"))


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15))
    x = (x ^ (x >> np.uint64(30))) * _MIX1
    x = (x ^ (x >> np.uint64(27))) * _MIX2
    return x ^ (x >> np.uint64(31))


# whitespace spelled as an EXPLICIT character class, shared by every text
# operator AND interpolated into the DuckDB oracle SQL: Java's \s and
# RE2's \s disagree on \x0B (vertical tab), so \s in an operator/oracle
# pair is a latent mismatch — the explicit class is byte-identical in
# both engines by construction
WS_CHARS = " \\t\\n\\r\\f\\x0B"
WORD_SPLIT_CLASS = f"[{WS_CHARS}]+"


def normalized_text(col) -> F.Column:
    """Canonical text normalization for dedup keys: lowercase, collapse
    whitespace, trim — all JVM-side."""
    return F.trim(F.regexp_replace(F.lower(col), WORD_SPLIT_CLASS, " "))


def content_fingerprint(col) -> F.Column:
    """The reference's FNV-1a-64 (crates/logparse_core/src/lib.rs:18-25)
    of normalized_text(col), two's-complement LongType: the one content
    hash the sampling, quota and budget operators order and filter by, and
    the one the DuckDB oracles reproduce from the refimpl aux table."""
    from ..functions import fnv1a_col

    return fnv1a_col(normalized_text(col))


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one canonical doc (min id) per distinct normalized text.
    xxhash64 on the normalized text gives a uniform 8-byte shuffle key —
    grouping by the raw text would shuffle whole documents."""
    key = F.xxhash64(normalized_text(F.col(text_col))).alias("text_key")
    return (
        docs.select(F.col(id_col), key)
        .groupBy("text_key")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
    )


def _char_shingle_hashes(texts: pd.Series, k: int) -> list:
    """Per-doc array of 64-bit char-k-shingle hashes (vectorized per doc via
    numpy sliding windows over the byte sequence)."""
    out = []
    for t in texts.fillna(""):
        b = np.frombuffer(t.lower().encode("utf-8", "ignore"), dtype=np.uint8)
        if len(b) < k:
            out.append(np.zeros(0, dtype=np.uint64))
            continue
        # polynomial rolling-hash via strided windows: hash = mix(sum b*P^i)
        win = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
        powers = np.power(np.uint64(1099511628211),
                          np.arange(k, dtype=np.uint64))
        h = _splitmix64((win * powers).sum(axis=1))
        out.append(np.unique(h))
    return out


def minhash_sig_batch(texts: pd.Series, num_perm: int = 64,
                      shingle_k: int = 5) -> list:
    """Pure-numpy minhash signature batch — the single implementation shared
    by the Spark pandas UDF and the oracle fixture generator (so the two
    sides can never drift)."""
    a = _splitmix64(np.arange(1, num_perm + 1, dtype=np.uint64))
    b = _splitmix64(np.arange(1001, 1001 + num_perm, dtype=np.uint64))
    shingles = _char_shingle_hashes(texts, shingle_k)
    sigs = []
    for h in shingles:
        if len(h) == 0:
            sigs.append(np.zeros(num_perm, dtype=np.int64))
            continue
        # (n, p) affine permutation; min over shingles per permutation
        vals = h[:, None] * a[None, :] + b[None, :]
        sigs.append(vals.min(axis=0).view(np.int64))
    return sigs


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_perm: int = 64,
                       shingle_k: int = 5) -> DataFrame:
    """(id, sig array<long>) — minhash over char-k shingles with num_perm
    affine permutations computed as one (n_shingles x num_perm) numpy min."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        sigs = minhash_sig_batch(texts, num_perm, shingle_k)
        return pd.Series([s.tolist() for s in sigs], index=texts.index)

    return docs.select(F.col(id_col), _sig(F.col(text_col)).alias("sig"))


def minhash_lsh_pairs(signatures: DataFrame, id_col: str = "doc_id",
                      bands: int = 16, num_perm: int = 64,
                      max_bucket: Optional[int] = None) -> DataFrame:
    """Candidate near-dup pairs: docs sharing >=1 LSH band bucket.
    num_perm (the signature length) must be divisible by bands. Pure
    DataFrame ops: explode band hashes -> groupBy bucket self-join ->
    distinct pairs.

    ``max_bucket`` caps the per-(band, bucket) membership used for the
    self-join: a bucket with c members contributes c*(c-1)/2 pairs, so one
    duplicate-heavy cluster (10^6 identical docs share EVERY band bucket)
    otherwise explodes to O(c^2) at exactly the corpus scale where dedup
    matters. Oversized buckets are dropped from the join — run exact_dedup
    first (see minhash_near_dup) so identical docs collapse to one member
    and a capped bucket only ever drops genuinely-distinct long tails.
    Use lsh_bucket_stats for the dropped-membership accounting."""
    banded = _cap_buckets(_banded(signatures, id_col, bands, num_perm),
                          ("band", "bucket"), max_bucket)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right, (F.col("l.band") == F.col("r.band"))
                  & (F.col("l.bucket") == F.col("r.bucket"))
                  & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"))
    )
    return _distinct_pairs(pairs)


def _cap_buckets(rows: DataFrame, bucket_cols, max_bucket) -> DataFrame:
    """The rows whose bucket (the ``bucket_cols`` value) has at most
    ``max_bucket`` members, counted by one window over the bucket; all
    rows when ``max_bucket`` is None."""
    if max_bucket is None:
        return rows
    w = Window.partitionBy(*bucket_cols)
    return (rows.withColumn("_bsz", F.count("*").over(w))
            .filter(F.col("_bsz") <= max_bucket).drop("_bsz"))


def _distinct_pairs(pairs: DataFrame, cols=("id_a", "id_b")) -> DataFrame:
    """Cross-band pair dedup sized for the pair volume, not the session
    default. A band join emits O(sum bucket^2) rows — typically 10-1000x
    the doc count — so a `.distinct()` at the session's (input-sized)
    shuffle width leaves each reducer a multi-100k-row hash aggregate
    (measured 11.6 s for 12.7M pairs at 16 partitions vs 3.2 s at 64 on
    the same data; guide §2.2 'fewer, larger' cuts the other way when the
    operator's own output is the big side). Width scales with cluster
    parallelism; AQE coalesces it back down when the pair set is small."""
    sc = pairs.sparkSession.sparkContext
    parts = max(8 * sc.defaultParallelism,
                int(pairs.sparkSession.conf.get(
                    "spark.sql.shuffle.partitions", "200")))
    return pairs.repartition(parts, *cols).dropDuplicates()


def _banded(signatures: DataFrame, id_col: str, bands: int,
            num_perm: int) -> DataFrame:
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands})")
    rows_per_band = num_perm // bands
    # runtime guard: if the signatures were built with a DIFFERENT num_perm,
    # F.slice past the array end returns short/empty slices whose xxhash64
    # collides across docs — the self-join then explodes quadratically and
    # silently mis-bands. Fail the job instead (per-row check, codegen'd).
    sig_checked = F.when(F.size("sig") == num_perm, F.col("sig")).otherwise(
        F.raise_error(F.format_string(
            "minhash signature length %s does not match num_perm "
            + str(num_perm), F.size("sig"))))
    return signatures.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(
                    F.slice(sig_checked, i * rows_per_band + 1, rows_per_band),
                    i,
                ),
            )
        ).alias("band", "bucket"),
    )


def lsh_bucket_stats(signatures: DataFrame, id_col: str = "doc_id",
                     bands: int = 16, num_perm: int = 64,
                     max_bucket: int = 1000) -> DataFrame:
    """Side-output accounting for the bucket cap: one row per oversized
    (band, bucket) with its membership — the 'what did the cap drop'
    answer a 100 TB dedup run must be able to report."""
    return (_banded(signatures, id_col, bands, num_perm)
            .groupBy("band", "bucket")
            .agg(F.count("*").alias("members"))
            .filter(F.col("members") > max_bucket))


def canonical_signatures(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", num_perm: int = 64,
                         shingle_k: int = 5) -> DataFrame:
    """exact_dedup -> minhash signatures over the canonical (min-id) doc
    per distinct normalized text — the persisted signature table every
    near-dup consumer shares (minhash_near_dup's first two stages, split
    out so a session/pipeline computes them once)."""
    canon = (
        docs.select(F.col(id_col), F.col(text_col),
                    F.xxhash64(normalized_text(F.col(text_col)))
                    .alias("text_key"))
        .groupBy("text_key")
        .agg(F.min(id_col).alias(id_col),
             F.min_by(text_col, F.col(id_col)).alias(text_col))
    )
    return minhash_signatures(canon, text_col, id_col, num_perm, shingle_k)


def minhash_near_dup(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", num_perm: int = 64,
                     bands: int = 16, shingle_k: int = 5,
                     max_bucket: Optional[int] = 1000,
                     canon_sigs: Optional[DataFrame] = None) -> DataFrame:
    """The composed duplicate-heavy-safe near-dup plan:

        exact_dedup (hash groupBy, collapses identical texts)
          -> minhash signatures over CANONICAL docs only
          -> capped LSH band join

    Exact-dup clusters — the dominant duplication mode in web corpora —
    never reach the band join, so the classic blowup (a million identical
    docs sharing every band bucket) is structurally impossible; the bucket
    cap then bounds the residual near-dup clusters. Returns candidate pairs
    between canonical doc ids (pair of cluster representatives).

    ``canon_sigs``: a precomputed/persisted canonical_signatures(docs)
    frame — pass it when several consumers share one corpus so the
    dedup+signature stages run once instead of once per consumer."""
    sigs = (canon_sigs if canon_sigs is not None
            else canonical_signatures(docs, text_col, id_col, num_perm,
                                      shingle_k))
    return minhash_lsh_pairs(sigs, id_col, bands, num_perm,
                             max_bucket=max_bucket)


def winnow_fingerprints(docs: DataFrame, k: int = 8, window: int = 16,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS scheme): hash every character k-gram of the
    normalized text, then keep the MINIMUM hash of each sliding window of
    `window` consecutive k-gram hashes. The selected set is a local
    fingerprint with a guarantee: any shared substring of length >=
    window + k - 1 between two documents yields at least one shared
    fingerprint — robust partial-overlap detection, unlike global
    min-hashing which needs whole-document similarity.

    Returns (id, fingerprints array<string>, n_grams, n_fingerprints).
    Pure JVM higher-order expressions, no UDF, no shuffle. The k-gram
    hash is an 8-hex-char md5 prefix — chosen because both Spark and an
    oracle engine compute the identical value (a production deployment
    would swap in a rolling polynomial hash; the selection logic — the
    actual winnowing — is hash-agnostic)."""
    base = docs.select(F.col(id_col),
                       normalized_text(F.col(text_col)).alias("t_"))
    # Selection kernel: the all-JVM form (transform over a sequence with
    # array_min(slice(...)) per window) evaluates O(n_grams * window)
    # interpreted higher-order calls per doc — CodegenFallback, measured
    # ~3x the whole operator. The hash is unchanged (md5 of the char
    # k-gram's UTF-8 bytes; the 8-hex-char prefix IS the digest's first
    # 4 bytes, and fixed-width lowercase hex orders exactly like the
    # uint32 it encodes), so the windowed min runs as one numpy
    # sliding-window min per doc and only the selected fingerprints are
    # ever hex-formatted. array_distinct order (first occurrence) is
    # preserved via dict.fromkeys.
    out_schema = T.StructType([
        docs.schema[id_col],
        T.StructField("fingerprints", T.ArrayType(T.StringType())),
        T.StructField("n_grams", T.IntegerType()),
        T.StructField("n_fingerprints", T.IntegerType()),
    ])

    def winnow(pdfs):
        from hashlib import md5
        swv = np.lib.stride_tricks.sliding_window_view
        for pdf in pdfs:
            ids, fps, ngs, nfs = [], [], [], []
            for i, t in zip(pdf[id_col], pdf["t_"]):
                t = t or ""
                enc = t.encode("utf-8")
                one_byte = len(enc) == len(t)
                n_g = max(len(t) - k + 1, 0)
                if n_g == 0:
                    sel = []
                else:
                    if one_byte:
                        vals = np.frombuffer(
                            b"".join(md5(enc[j:j + k]).digest()[:4]
                                     for j in range(n_g)),
                            dtype=">u4")
                    else:
                        vals = np.frombuffer(
                            b"".join(
                                md5(t[j:j + k].encode("utf-8")).digest()[:4]
                                for j in range(n_g)),
                            dtype=">u4")
                    if n_g >= window:
                        vals = swv(vals, window).min(axis=1)
                    sel = [f"{v:08x}"
                           for v in dict.fromkeys(vals.tolist())]
                ids.append(i)
                fps.append(sel)
                ngs.append(n_g)
                nfs.append(len(sel))
            yield pd.DataFrame({id_col: ids, "fingerprints": fps,
                                "n_grams": np.array(ngs, dtype=np.int32),
                                "n_fingerprints": np.array(nfs,
                                                           dtype=np.int32)})

    return base.mapInPandas(winnow, schema=out_schema)


def simhash_batch(texts: pd.Series, shingle_k: int = 4) -> np.ndarray:
    """Pure-numpy simhash batch — shared by the Spark UDF and the oracle
    fixture generator."""
    out = np.zeros(len(texts), dtype=np.int64)
    shingles = _char_shingle_hashes(texts, shingle_k)
    bit_idx = np.arange(64, dtype=np.uint64)
    for i, h in enumerate(shingles):
        if len(h) == 0:
            continue
        bits = ((h[:, None] >> bit_idx[None, :]) & np.uint64(1))
        score = bits.astype(np.int64).sum(axis=0) * 2 - len(h)
        v = np.uint64(0)
        for j in range(64):
            if score[j] > 0:
                v |= np.uint64(1) << np.uint64(j)
        out[i] = np.int64(v.astype(np.uint64).view(np.int64))
    return out


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            shingle_k: int = 4) -> DataFrame:
    """64-bit simhash per doc: sign-sum of shingle-hash bit vectors."""

    @F.pandas_udf(T.LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(texts, shingle_k), index=texts.index)

    return docs.select(F.col(id_col), _simhash(F.col(text_col)).alias("simhash"))


def _simhash_candidates_broadcast(sim: DataFrame, id_col: str,
                                  chunks: int, max_bucket):
    """Broadcast fast path for simhash_candidates: when the (id, simhash)
    table fits the driver-collect budget (shared.collect_if_fits), each
    chunk becomes one numpy task over the broadcast arrays — bucket
    slicing, the max_bucket cap, pair enumeration and the XOR popcount
    all happen in-task, and only candidate pairs leave. The chunk
    self-join shuffles nothing. None above the gate; identical pairs +
    hamming, same final dedup."""
    if not isinstance(sim.schema[id_col].dataType, T.IntegralType):
        return None
    head = collect_if_fits(sim.select(F.col(id_col).cast("long"),
                                      "simhash"), "simhash")
    if head is None:
        return None
    spark = sim.sparkSession
    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("hamming", T.IntegerType()),
    ])
    if not head.num_rows:
        return _distinct_pairs(spark.createDataFrame([], out_schema))
    width = 64 // chunks
    mask = np.uint64((1 << width) - 1)
    ids = head.column(0).to_numpy()
    sh = head.column(1).to_numpy().view(np.uint64)
    # exact cost gate, computed from the already-collected hashes: at
    # high candidate volume the Python->Arrow pair emission loses to the
    # JVM chunk join, so route big outputs back to the join plan
    est = 0
    for chunk in range(chunks):
        vals = np.sort((sh >> np.uint64(chunk * width)) & mask)
        seg = np.flatnonzero(np.r_[True, vals[1:] != vals[:-1]])
        sizes = np.diff(np.r_[seg, len(vals)])
        if max_bucket is not None:
            sizes = sizes[sizes <= max_bucket]
        est += int((sizes * (sizes - 1) // 2).sum())
    if not fits("simhash_pairs", est, SIMHASH_MAX_PAIRS):
        # high candidate volume: Python-side pair emission loses to the
        # JVM chunk join — run the join over the ALREADY-COLLECTED
        # hashes (one UDF pass total; the self-join aliases of the lazy
        # signature frame re-ran the simhash UDF once per side)
        local = spark.createDataFrame(
            pd.DataFrame({id_col: ids, "simhash": sh.view(np.int64)})) \
            .repartition(spark.sparkContext.defaultParallelism)
        return _simhash_chunk_join(local, id_col, chunks, max_bucket)
    bcv = spark.sparkContext.broadcast((ids, sh))

    n_slices = 4

    def emit(batches):
        import pyarrow as pa

        b_ids, b_sh = bcv.value
        hb = b_sh.view(np.uint8).reshape(-1, 8)
        for batch in batches:
            for task in batch.column(0).to_pylist():
                chunk, sl = divmod(task, n_slices)
                vals = (b_sh >> np.uint64(chunk * width)) & mask
                order = np.argsort(vals, kind="stable")
                sv = vals[order]
                seg = np.flatnonzero(np.r_[True, sv[1:] != sv[:-1]])
                ends = np.r_[seg[1:], len(sv)]
                sizes = ends - seg
                # each task owns one residue class of the bucket VALUE so
                # a chunk's buckets split across n_slices parallel tasks
                big = (sizes >= 2) & (sv[seg] % np.uint64(n_slices)
                                      == np.uint64(sl))
                if max_bucket is not None:
                    big &= sizes <= max_bucket
                parts_a, parts_b = [], []
                for s, e in zip(seg[big].tolist(), ends[big].tolist()):
                    rows = order[s:e]
                    c = e - s
                    parts_a.append(np.repeat(rows, c))
                    parts_b.append(np.tile(rows, c))
                if not parts_a:
                    continue
                ia = np.concatenate(parts_a)
                ib = np.concatenate(parts_b)
                keep = b_ids[ia] < b_ids[ib]
                ia, ib = ia[keep], ib[keep]
                ham = _POP8[hb[ia] ^ hb[ib]].sum(axis=1, dtype=np.int64)
                # zero-copy Arrow emission (numpy -> pa.array shares the
                # buffers); chunked so no single batch exceeds the
                # serializer's comfort zone
                n = len(ia)
                step = 1 << 19
                for off in range(0, n, step):
                    sel = slice(off, min(off + step, n))
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(b_ids[ia[sel]]),
                         pa.array(b_ids[ib[sel]]),
                         pa.array(ham[sel].astype(np.int32))],
                        names=["id_a", "id_b", "hamming"])

    pairs = (spark.range(0, chunks * n_slices, 1,
                         numPartitions=chunks * n_slices)
             .mapInArrow(emit, schema=out_schema))
    return _distinct_pairs(pairs)


def simhash_candidates(sim: DataFrame, id_col: str = "doc_id",
                       chunks: int = 4,
                       max_bucket: Optional[int] = None) -> DataFrame:
    """Near-dup candidates: pairs sharing at least one 64/chunks-bit simhash
    chunk.

    GUARANTEE (pigeonhole): any pair within Hamming distance chunks-1 agrees
    on at least one chunk, so recall is 1.0 for that radius; pairs farther
    apart may or may not collide. Choosing chunks = radius+1 is the Manku
    et al. block design. Cost note for 10^9+ docs: a chunk table has
    2^(64/chunks) buckets, so expected self-join work is ~n^2/2^(64/chunks)
    per chunk — survivable at chunks=4 (65,536 buckets) only with
    exact-dedup-first plus the ``max_bucket`` cap, which drops buckets whose
    membership exceeds the cap (duplicate-heavy clusters; see
    minhash_near_dup for the same pattern and lsh_bucket_stats-style
    accounting). At larger radii use more tables over bit permutations
    rather than narrower chunks."""
    bc = _simhash_candidates_broadcast(sim, id_col, chunks, max_bucket)
    if bc is not None:
        return bc
    return _simhash_chunk_join(sim, id_col, chunks, max_bucket)


def _simhash_chunk_join(sim: DataFrame, id_col: str, chunks: int,
                        max_bucket) -> DataFrame:
    """The distributed chunk self-join form of simhash_candidates."""
    width = 64 // chunks
    mask = (1 << width) - 1
    chunked = sim.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(F.array(*[
            (F.shiftrightunsigned(F.col("simhash"), i * width)
             .bitwiseAND(F.lit(mask)))
            for i in range(chunks)
        ])).alias("chunk_idx", "chunk_val"),
    )
    chunked = _cap_buckets(chunked, ("chunk_idx", "chunk_val"), max_bucket)
    l, r = chunked.alias("l"), chunked.alias("r")
    # exact Hamming distance JVM-side (popcount via bit_count) computed on
    # the RAW join output, so the cross-chunk dedup shuffles (id_a, id_b,
    # hamming) instead of the two full simhashes — hamming is a function
    # of the pair, so distinct-on-3-cols == distinct-on-pairs (guide §2.3,
    # shuffle fewer bytes)
    pairs = (
        l.join(r, (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
               & (F.col("l.chunk_val") == F.col("r.chunk_val"))
               & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
                F.bit_count(F.col("l.simhash")
                            .bitwiseXOR(F.col("r.simhash")))
                .alias("hamming"))
    )
    return _distinct_pairs(pairs)


def _gram_hash_np(t: str, n: int) -> np.ndarray:
    """Sorted unique uint64 codes of the char-n-grams (n <= 3) of an
    (already normalized) string. The code points pack into 21-bit lanes
    (Unicode max 0x10FFFF < 2^21), so the encoding is INJECTIVE — two
    grams collide iff they are equal, making code-set Jaccard EXACTLY
    equal to string-set Jaccard."""
    cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
    if len(cp) < n:
        return np.zeros(0, dtype=np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(cp, n).astype(np.uint64)
    h = win[:, 0]
    for i in range(1, n):
        h = (h << np.uint64(21)) | win[:, i]
    return np.unique(h)


def ngram_jaccard(docs: DataFrame, pairs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Exact char-n-gram Jaccard (1 <= n <= 3) for candidate pairs — the
    verify stage after LSH: ngram_overlap_pairs' exact counts divided
    JVM-side, n_common / (n_a + n_b - n_common), null for two empty gram
    sets.

    No gram array ever enters a join: joining each doc's gram ARRAY onto
    every pair and running array_intersect/array_union per pair measured
    53% of the whole 33-query bench at sf0.1 (30.5 s); the pairs carry
    ids (or the ~1-2 KB normalized text) instead."""
    ov = ngram_overlap_pairs(docs, pairs, text_col=text_col,
                             id_col=id_col, n=n)
    union = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return ov.select("id_a", "id_b", F.when(union > 0, F.col("n_common")
                                            / union).alias("jaccard"))


def incremental_dedup(new_docs: DataFrame, corpus: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Dedup a NEW batch against an existing corpus plus itself — the
    recurring production shape (each crawl/snapshot dedupes against every
    earlier one; re-deduping the whole union from scratch would reread
    10^12 processed rows per increment). A new row survives iff its
    normalized text appears nowhere in the corpus AND it is the min-id
    holder of its text within the batch (keep-first, matching
    exact_dedup's canonical rule). Returns the surviving new rows intact.

    Scale shape: both sides reduce to 8-byte xxhash64 keys before any
    shuffle — corpus text is never read past the hash projection, and the
    anti join + per-key min fold shuffle keys only; survivors come back as
    a semi join on the id. At 10^12 corpus rows the corpus side is a
    distinct key set (the information-theoretic minimum for exact dedup);
    in practice you persist that key table once and reuse it every
    increment instead of rescanning the corpus."""
    key = F.xxhash64(normalized_text(F.col(text_col))).alias("_k")
    nk = new_docs.select(F.col(id_col), key)
    ck = corpus.select(key).distinct()
    surv = (nk.join(ck, "_k", "left_anti")
            .groupBy("_k").agg(F.min(id_col).alias(id_col))
            .select(id_col))
    return new_docs.join(surv, id_col, "left_semi")


def bloom_bits(keys: DataFrame, key_col: str, m_bits: int = 1 << 20,
               n_hashes: int = 2) -> DataFrame:
    """Build a Bloom-filter bitmap over a key column as a TABLE of
    (word_idx BIGINT, bits BIGINT) — 63 usable bits per word so no shift
    ever touches the sign bit (engine-portable two's-complement safety).

    This is the persist-once side of incremental membership at crawl
    scale: build it over the corpus key set once, write it out (it is
    m_bits/63 rows regardless of corpus size), and reuse it for every
    incoming batch instead of rescanning 10^12 corpus keys. Hash basis is
    md5 (identical on any engine) split into two independent 60-bit
    integers combined by double hashing h_j = (h1 + j*h2) mod m; a
    degenerate h2 only raises the false-positive rate, never causes a
    false negative. Size m at ~10 bits per distinct key for ~3% FP with
    the default two hashes ((1 - e^(-k*n/m))^k)."""
    pos = F.array(*_bloom_positions(F.col(key_col), n_hashes, m_bits))
    return (keys.select(F.explode(pos).alias("_pos"))
            .select(F.expr("_pos DIV 63").alias("_w"),
                    F.expr("shiftleft(CAST(1 AS BIGINT), "
                           "CAST(pmod(_pos, 63) AS INT))").alias("_m"))
            .groupBy("_w").agg(F.bit_or("_m").alias("_bits")))


def _bloom_positions(key_col: F.Column, n_hashes: int, m_bits: int) -> list:
    """k bit positions for a key: md5 -> two 60-bit ints -> double hash."""
    digest = F.md5(key_col.cast("string"))
    h1 = F.conv(F.substring(digest, 1, 15), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(digest, 16, 15), 16, 10).cast("bigint")
    return [F.pmod(h1 + F.lit(j) * h2, F.lit(m_bits))
            for j in range(n_hashes)]


def bloom_anti_join(batch: DataFrame, corpus: DataFrame, key_col: str,
                    m_bits: int = 1 << 20, n_hashes: int = 2,
                    bits: Optional[DataFrame] = None) -> DataFrame:
    """EXACT anti-join (batch keys not present in corpus) with a
    Bloom-filter prefilter — the result is identical to a plain
    ``left_anti`` join; the bitmap only PRUNES the expensive path.

    Scale shape: every batch key probes the broadcast bitmap (fixed
    m_bits/63-row table, size independent of corpus cardinality). A key
    with any unset probe bit is DEFINITELY new (Bloom guarantee) and
    never enters a shuffle against the corpus; only maybe-members (true
    members + the ~3% false positives) go through the exact key-shuffle
    anti-join. For a mostly-new crawl batch this removes almost the whole
    corpus-side join; pass a persisted ``bits`` table (from
    :func:`bloom_bits`) to skip rebuilding the bitmap per increment.

    Within-batch duplicate keys are NOT collapsed — this is membership
    against the corpus only; compose with keep-first (incremental_dedup)
    when batch-internal dedup is wanted."""
    if bits is None:
        bits = bloom_bits(corpus.select(key_col).distinct(), key_col,
                          m_bits, n_hashes)
    pos = F.array(*_bloom_positions(F.col(key_col), n_hashes, m_bits))
    probes = (batch.select(key_col).distinct()
              .select(key_col, F.explode(pos).alias("_pos"))
              .select(key_col, F.expr("_pos DIV 63").alias("_w"),
                      F.expr("shiftleft(CAST(1 AS BIGINT), "
                             "CAST(pmod(_pos, 63) AS INT))").alias("_m"))
              .join(F.broadcast(bits), "_w", "left")
              .withColumn("_hit",
                          F.col("_bits").isNotNull()
                          & (F.col("_bits").bitwiseAND(F.col("_m")) != 0))
              .groupBy(key_col)
              .agg(F.min(F.col("_hit").cast("int")).alias("_all_hit")))
    fresh = probes.filter(F.col("_all_hit") == 0).select(key_col)
    maybe = probes.filter(F.col("_all_hit") == 1).select(key_col)
    confirmed = maybe.join(corpus.select(key_col).distinct(),
                           key_col, "left_anti")
    new_keys = fresh.unionByName(confirmed)
    return batch.join(new_keys, key_col, "left_semi")


def duplicate_span_stats(docs: DataFrame, n: int = 8,
                         id_col: str = "doc_id") -> DataFrame:
    """Per-document duplicated-span exposure — the document-level signal
    behind substring-level training-data dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for each
    doc, what fraction of its distinct word n-gram spans also occurs in at
    least one OTHER document. Docs dominated by shared spans are template
    boilerplate / syndicated copies even when no whole-doc near-dup fires;
    the full substring-removal pass starts from exactly this span->doc
    inverted mapping.

    Returns (id, n_spans, n_shared, shared_ppm BIGINT) for docs with at
    least one span (>= n words); shared_ppm = n_shared * 1e6 DIV n_spans,
    exact integer (n_shared <= n_spans so the product stays < 2^63 for
    any doc under ~9.2e12 spans).

    Scale shape: spans materialize scan-side (transform over an index
    sequence of the ``words`` array, no UDF), de-duped PER DOC before
    leaving the scan (array_distinct), then exactly two hash shuffles —
    one on the span key (the inverted-index shuffle every substring-dedup
    job pays; at production scale map the span through xxhash64 first so
    the shuffle carries 8-byte keys, identical answer absent a 2^-64
    collision), one on the doc id for the final rollup. Span frequency is Zipfian, so
    map-side partial counts collapse the hot template spans before the
    wire."""
    from .text import word_ngrams

    base = docs.select(F.col(id_col), F.col("words").alias("_ws"))
    spans = word_ngrams(F.col("_ws"), n)
    per = base.select(F.col(id_col),
                      F.explode(F.array_distinct(spans)).alias("span"))
    n_docs = F.count("*").over(Window.partitionBy("span"))
    return (per.withColumn("_nd", n_docs)
            .groupBy(id_col)
            .agg(F.count("*").alias("n_spans"),
                 F.sum((F.col("_nd") >= 2).cast("long")).alias("n_shared"))
            .withColumn("shared_ppm",
                        F.expr("n_shared * 1000000 DIV n_spans")))


def minhash_cross_candidates(sig_new: DataFrame, sig_corpus: DataFrame,
                             id_col: str = "doc_id", bands: int = 16,
                             num_perm: int = 64,
                             max_bucket: Optional[int] = None) -> DataFrame:
    """Candidate near-dup pairs BETWEEN two signature sets (batch vs
    corpus) — the cross form of minhash_lsh_pairs: docs sharing >=1 LSH
    band bucket across the two sides. Returns distinct (id_a from
    sig_new, id_b from sig_corpus).

    ``max_bucket`` caps the CORPUS-side bucket membership (the 10^12
    side; a batch key joining an oversized corpus bucket is exactly the
    blowup the cap exists for). Capped drops are visible through
    lsh_bucket_stats on the corpus signatures."""
    a = (_banded(sig_new, id_col, bands, num_perm)
         .withColumnRenamed(id_col, "id_a"))
    b = _cap_buckets(_banded(sig_corpus, id_col, bands, num_perm)
                     .withColumnRenamed(id_col, "id_b"),
                     ("band", "bucket"), max_bucket)
    return _distinct_pairs(
        a.join(b, ["band", "bucket"]).select("id_a", "id_b"))


def minhash_cross_dedup(new_docs: DataFrame, corpus: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        threshold: float = 0.5, num_perm: int = 64,
                        bands: int = 16, shingle_k: int = 5,
                        max_bucket: Optional[int] = 1000,
                        corpus_sigs: Optional[DataFrame] = None
                        ) -> DataFrame:
    """FUZZY incremental crawl dedup — the near-dup counterpart of
    incremental_dedup: suppress new-batch docs whose text is a verified
    near-duplicate (exact char-3-gram Jaccard >= threshold) of ANY corpus
    doc; survivors pass through with all their columns. Ids must be
    disjoint between the two sides (offset the batch ids).

    Scale shape: both sides reduce to (id, 8-byte band bucket) keys
    before the one cross-side shuffle — the corpus text is scanned once
    for signatures and once more ONLY for the docs that appear in a
    candidate pair (the verify joins are id-keyed semi-shapes). The
    corpus signature table is reusable across increments: pass the
    persisted ``minhash_signatures`` output from the previous run as
    ``corpus_sigs`` and the corpus text is scanned ONLY for verify-stage
    candidates. Within-batch near-dups are NOT collapsed here (membership
    vs the corpus only); compose with minhash_near_dup for batch-internal
    dedup."""
    sig_a = minhash_signatures(new_docs, text_col, id_col,
                               num_perm, shingle_k)
    sig_b = (corpus_sigs if corpus_sigs is not None
             else minhash_signatures(corpus, text_col, id_col,
                                     num_perm, shingle_k))
    cands = minhash_cross_candidates(sig_a, sig_b, id_col, bands,
                                     num_perm, max_bucket)
    both = (new_docs.select(id_col, text_col)
            .unionByName(corpus.select(id_col, text_col)))
    verified = ngram_jaccard(both, cands, text_col, id_col, n=3)
    dup_ids = (verified.filter(F.col("jaccard") >= threshold)
               .select(F.col("id_a").alias(id_col)).distinct())
    return new_docs.join(dup_ids, id_col, "left_anti")


def remove_duplicate_spans(docs: DataFrame, n: int = 8, min_docs: int = 2,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Substring-level dedup REMOVAL (the endgame of Lee et al. 2022):
    rewrite every document dropping each word that is covered by any
    n-word span occurring in >= ``min_docs`` documents. The flagging
    form (:func:`duplicate_span_stats`) scores exposure; this one edits.

    Returns (id, text, n_removed BIGINT): docs with no removed word keep
    their ORIGINAL text byte-for-byte (original whitespace preserved);
    an edited doc is rebuilt from its surviving tokens joined by single
    spaces (token-level rebuild — the standard loss of this operation; a
    fully-covered doc becomes the empty string).

    Scale shape, stage by stage: spans materialize scan-side with their
    start positions (posexplode over a transform — no UDF); the span ->
    doc-frequency pass is the same Zipf-friendly span-keyed shuffle as
    the stats form; covered word indices then EXPLODE ONLY for docs that
    actually hit a shared span (a semi-join prunes the rest), and the
    rebuild is one id-keyed aggregate whose per-group state is bounded
    by the document's own length. Untouched docs never leave the scan —
    they join the edited set by id with a coalesce."""
    base, per = _span_frames(docs, n, text_col, id_col)
    if min_docs == 2:
        # ">= 2 distinct owner docs" is exactly min(id) != max(id) over
        # the span window — one exchange marks the banned occurrences
        # in place of the r5 distinct + groupBy + semi-join chain
        w = Window.partitionBy("_span")
        hits = (per.withColumn("_mn", F.min(id_col).over(w))
                .withColumn("_mx", F.max(id_col).over(w))
                .filter(F.col("_mn") != F.col("_mx")))
        return _scrub_from_hits(base, hits, n, text_col, id_col)
    # span -> distinct-doc frequency (vocab-sized after the map-side
    # partials); shared = spans carried by >= min_docs docs
    shared = (per.select(id_col, "_span").distinct()
              .groupBy("_span").agg(F.count("*").alias("_nd"))
              .filter(F.col("_nd") >= min_docs)
              .select("_span"))
    return _scrub_spans(base, per, shared, n, text_col, id_col)


def _span_frames(docs: DataFrame, n: int, text_col: str, id_col: str):
    """(base, per): the tokenized doc frame and its positioned n-word
    spans — shared by the duplicate-span and contamination scrubbers."""
    from .text import word_ngrams

    base = docs.select(F.col(id_col), F.col(text_col),
                       F.col("words").alias("_ws"))
    spans = word_ngrams(F.col("_ws"), n)
    # (id, start0, span): posexplode's index IS the 0-based start word
    per = base.select(id_col, F.posexplode(spans).alias("_start", "_span"))
    return base, per


def _scrub_spans(base: DataFrame, per: DataFrame, banned: DataFrame,
                 n: int, text_col: str, id_col: str) -> DataFrame:
    """Drop every word covered by a banned span; rebuild only touched
    docs (see remove_duplicate_spans for the scale notes)."""
    # r6 shape: the shuffle carries only (id, banned-span START) — the
    # covered word-index set expands JVM-side AFTER the per-doc rollup
    # (flatten of per-start sequences), and touched docs rebuild from
    # their own word array by index arithmetic. The previous plan
    # exploded every covered index through a distinct, posexploded every
    # token of every doc, anti-joined, and re-sorted a collect_list per
    # doc — four extra exchanges and a corpus-sized token explode for
    # the same rows.
    return _scrub_from_hits(base, per.join(banned, "_span", "left_semi"),
                            n, text_col, id_col)


def _scrub_from_hits(base: DataFrame, hits: DataFrame, n: int,
                     text_col: str, id_col: str) -> DataFrame:
    """Rebuild docs from their banned-span HIT rows (id, _start, ...)."""
    starts = (hits.groupBy(id_col)
              .agg(F.collect_set("_start").alias("_starts")))
    cov = F.array_sort(F.array_distinct(F.flatten(F.transform(
        F.col("_starts"),
        lambda s: F.sequence(s, s + F.lit(n - 1))))))
    keep_idx = F.array_except(
        F.sequence(F.lit(0), F.size("_ws") - 1), F.col("_cov"))
    rebuilt = F.concat_ws(" ", F.transform(
        keep_idx, lambda i: F.element_at(F.col("_ws"), i + 1)))
    out = (base.join(starts, id_col, "left")
           .withColumn("_cov", F.when(F.col("_starts").isNotNull(), cov))
           .select(
               F.col(id_col),
               F.when(F.col("_cov").isNull(), F.col(text_col))
               .otherwise(rebuilt).alias(text_col),
               F.when(F.col("_cov").isNull(), F.lit(0))
               .otherwise(F.size("_cov")).cast("bigint")
               .alias("n_removed")))
    return out


def remove_contaminated_spans(docs: DataFrame, eval_docs: DataFrame,
                              n: int = 8, text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """Benchmark DECONTAMINATION by span scrubbing: drop every corpus word
    covered by an n-word span that appears anywhere in the eval set — the
    editing counterpart of the contamination CHECK (which only flags).
    ``docs`` and ``eval_docs`` both carry their ``words`` column. Output
    contract matches remove_duplicate_spans: (id, text, n_removed),
    untouched docs byte-identical, edited docs rebuilt from surviving
    lowercased tokens.

    Scale shape: the banned-span set is EVAL-SIZED (benchmarks are
    thousands of docs, not billions) and broadcast, so the corpus-side
    marking is a broadcast semi-join on the span string — the corpus
    never shuffles to discover contamination; only the docs that
    actually hit an eval span pay the covered-index explode and the
    id-keyed rebuild."""
    base, per = _span_frames(docs, n, text_col, id_col)
    _, eval_per = _span_frames(eval_docs, n, text_col, id_col)
    banned = F.broadcast(eval_per.select("_span").distinct())
    return _scrub_spans(base, per, banned, n, text_col, id_col)


def soft_dedup_weights(docs: DataFrame, clusters: DataFrame,
                       id_col: str = "doc_id",
                       scale: int = 1_000_000) -> DataFrame:
    """Soft deduplication — DOWN-WEIGHT duplicated documents instead of
    dropping them (the sampling-weight alternative to hard removal,
    cf. SoftDeDup, Xia et al. 2024): every member of a near-dup cluster
    of size k gets training weight 1/k, so each distinct content unit
    contributes the same total mass to the training mixture regardless
    of how many copies the crawl captured. Docs outside any cluster keep
    weight 1.

    ``clusters`` is a (id, component, cluster_size) frame from
    ``graph.dup_clusters`` — pass the session-shared components frame so
    the closure is computed once across the dedup family.

    Returns (id, cluster_size BIGINT, weight_ppm BIGINT) for EVERY input
    doc; weight_ppm = scale DIV cluster_size, exact integer on any
    engine (cluster_size >= 1, so no division edge cases; at the default
    scale the weight is parts-per-million, losing at most 1 ppm to the
    floor — callers needing finer resolution raise ``scale``).

    Scale shape: one hash join of the corpus id column against the
    cluster assignment (cluster table is duplicate-sized, far smaller
    than the corpus; the corpus side carries only the 8-byte id — text
    never shuffles). The weight arithmetic is scan-side integer DIV."""
    cs = (clusters.select(F.col("id").alias(id_col),
                          F.col("cluster_size")))
    return (docs.select(id_col)
            .join(cs, on=id_col, how="left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("cluster_size"), F.lit(1))
                .cast("bigint").alias("cluster_size"),
                F.expr(f"CAST({scale} DIV coalesce(cluster_size, 1) "
                       "AS BIGINT)").alias("weight_ppm")))


def cluster_representatives(clusters: DataFrame, quality: DataFrame,
                            id_col: str = "doc_id") -> DataFrame:
    """Quality-aware canonical-copy selection: for each near-dup cluster,
    keep the HIGHEST-quality member (ties broken by smallest id) — the
    "which copy do we actually train on" step that replaces keep-first /
    keep-min-id dedup when copies differ (one crawl of the page got the
    clean article, another got it wrapped in boilerplate).

    ``clusters`` is (id, component, cluster_size) from
    ``graph.dup_clusters``; ``quality`` is any (id, quality) frame —
    here ``text.quality_score`` output. Returns one row per cluster:
    (component, rep_doc_id, rep_quality, cluster_size).

    Determinism: the argmax key is (quality, -id), a total order because
    ids are unique, so any engine picks the same representative.

    Scale shape: the join is cluster-membership-sized (duplicates only,
    not the corpus), then ONE hash aggregation on component with
    map-side-combinable max_by — no window, no sort, no corpus scan
    beyond the quality frame the session already computed."""
    q = quality.select(F.col(id_col), F.col("quality"))
    members = (clusters.select(F.col("id").alias(id_col),
                               "component", "cluster_size")
               .join(q, on=id_col, how="inner"))
    key = F.struct(F.col("quality").alias("q"),
                   (-F.col(id_col)).alias("nid"))
    return (members.groupBy("component")
            .agg(F.max_by(F.col(id_col), key).alias("rep_doc_id"),
                 F.max_by(F.col("quality"), key).alias("rep_quality"),
                 F.max("cluster_size").cast("bigint")
                 .alias("cluster_size")))


def span_novelty(docs: DataFrame, n: int = 8,
                 id_col: str = "doc_id") -> DataFrame:
    """First-occurrence attribution — per document, how much of its
    content is NEW relative to everything with a smaller id (ids are the
    ingest order in this corpus): the fraction of its distinct word
    n-gram spans whose minimum owning doc id is this doc. The inverse of
    duplicate-span exposure: dedup tells you what to drop, novelty tells
    you which docs actually contributed content — the signal behind
    dedup-aware data ordering and per-source contribution accounting
    (cf. Lee et al. 2022's finding that most corpus bytes trace to few
    first occurrences).

    Returns (id, n_spans, n_novel, novel_ppm BIGINT) for docs with at
    least one span; novel_ppm = n_novel * 1e6 DIV n_spans, exact integer
    (n_novel <= n_spans, so the product stays < 2^63 for any doc under
    ~9.2e12 spans — the same bound as duplicate_span_stats).

    Scale shape: identical to duplicate_span_stats — spans materialize
    scan-side and dedupe PER DOC before leaving the scan, then one
    span-keyed shuffle (min doc id is map-side combinable) and one
    id-keyed rollup. At production scale hash the span through xxhash64
    first so the shuffle carries 8-byte keys (identical answer absent a
    2^-64 collision)."""
    from .text import word_ngrams

    wbase = docs.select(F.col(id_col), F.col("words").alias("_ws"))
    spans = word_ngrams(F.col("_ws"), n)
    # per-doc span dedup happens SCAN-SIDE (array_distinct before the
    # explode, the duplicate_span_stats discipline) and the first-owner
    # attribution is a min-over-window on the span key — the r5 plan
    # paid a distinct exchange, a groupBy exchange and a big-to-big
    # span-string join for the same numbers (guide §2.4: a window
    # partitioned like the aggregation needs no second shuffle)
    per_d = wbase.select(F.col(id_col),
                         F.explode(F.array_distinct(spans)).alias("_span"))
    first = F.min(id_col).over(Window.partitionBy("_span"))
    return (per_d.withColumn("_first", first)
            .groupBy(id_col)
            .agg(F.count("*").alias("n_spans"),
                 F.sum((F.col(id_col) == F.col("_first")).cast("bigint"))
                 .alias("n_novel"))
            .select(F.col(id_col),
                    F.col("n_spans"),
                    F.col("n_novel"),
                    F.expr("CAST(n_novel * 1000000 DIV n_spans AS BIGINT)")
                    .alias("novel_ppm")))


def source_overlap(pairs: DataFrame, docs: DataFrame,
                   id_col: str = "doc_id",
                   source_col: str = "source") -> DataFrame:
    """Syndication detection — aggregate document near-dup pairs up to
    the SOURCE level: which feeds/domains keep publishing each other's
    content. (source_a, source_b) is canonically ordered (least first)
    so the pair is direction-free; same-source rows expose internal
    re-posting. The per-source duplicate mass is the signal a crawl
    curator uses to down-weight mirror networks before per-doc dedup
    even runs.

    Returns (source_a, source_b, n_pairs BIGINT, n_docs BIGINT) where
    n_docs counts distinct documents of the pair's two sides combined.

    Scale shape: the pair table is duplicate-sized (orders of magnitude
    under the corpus); two id-keyed hash joins against the corpus's
    (id, source) projection — the text column never enters — then one
    source-pair-keyed aggregation whose key space is |sources|^2-bounded
    and far sparser. n_docs uses one distinct over (pair, id), the only
    extra shuffle, still pair-table-sized."""
    src = docs.select(F.col(id_col), F.col(source_col))
    a = src.select(F.col(id_col).alias("id_a"),
                   F.col(source_col).alias("_sa"))
    b = src.select(F.col(id_col).alias("id_b"),
                   F.col(source_col).alias("_sb"))
    tagged = (pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
              .select(F.least("_sa", "_sb").alias("source_a"),
                      F.greatest("_sa", "_sb").alias("source_b"),
                      "id_a", "id_b"))
    # single aggregation pass: the r5 two-branch plan (count rollup JOINED
    # back onto a distinct+count rollup) re-executed the whole pair
    # pipeline once per branch. Explode each pair to its two member rows
    # (pos 0 carries the pair marker) and fold n_pairs = sum(pos == 0) and
    # n_docs = count_distinct(id) in ONE groupBy — identical values, one
    # traversal, no final join.
    ex = tagged.select(
        "source_a", "source_b",
        F.posexplode(F.array("id_a", "id_b")).alias("_pos", "id"))
    return (ex.groupBy("source_a", "source_b")
            .agg(F.sum((F.col("_pos") == 0).cast("bigint"))
                 .alias("n_pairs"),
                 F.count_distinct("id").alias("n_docs")))


def ngram_overlap_pairs(docs: DataFrame, pairs: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3) -> DataFrame:
    """Exact char-n-gram overlap STATS (1 <= n <= 3) for candidate pairs:
    (id_a, id_b, n_common, n_a, n_b) as integers — the primitive under
    both Jaccard (n_common / (n_a + n_b - n_common)) and the asymmetric
    CONTAINMENT scores (n_common / n_a, n_common / n_b) that catch
    subset-shaped duplication (a quote, a syndicated excerpt, a page
    wrapping another) which symmetric Jaccard under-scores.

    Under the driver-collect budget, pairs look their texts up in one
    broadcast {id: normalized text} (_bcast_norm_texts); otherwise two
    id-keyed joins ship each doc's NORMALIZED TEXT once per pair. Either
    way one kernel scores a whole Arrow batch of pairs (_gram_rows +
    _pair_counts) over the worker-memoized gram sets (injective encoding,
    see _gram_hash_np), and the returned counts are exact integers so any
    engine reproduces them bit-for-bit. No gram arrays ever enter a
    shuffle.
    """
    if not 1 <= n <= 3:
        raise ValueError(f"n={n}: exact char-gram sets need 1 <= n <= 3 "
                         "(three 21-bit code points per 64-bit code)")

    bc = _bcast_norm_texts(docs, text_col, id_col)
    if bc is not None:

        @F.pandas_udf("n_common long, n_a long, n_b long")
        def _ov_bc(ia: pd.Series, ib: pd.Series) -> pd.DataFrame:
            # a pair id missing from the broadcast raises KeyError rather
            # than scoring against the wrong text
            return _batch_counts(ia, ib, bc.value.__getitem__, n)

        scored = (_pairs_with_known_ids(pairs, docs, id_col)
                  .select("id_a", "id_b",
                          _ov_bc(F.col("id_a").cast("long"),
                                 F.col("id_b").cast("long")).alias("_o")))
    else:
        norm = docs.select(F.col(id_col),
                           normalized_text(F.col(text_col)).alias("_nt"))
        a, b = norm.alias("a"), norm.alias("b")

        @F.pandas_udf("n_common long, n_a long, n_b long")
        def _ov(ta: pd.Series, tb: pd.Series) -> pd.DataFrame:
            return _batch_counts(ta.fillna(""), tb.fillna(""), str, n)

        scored = (pairs.join(a, pairs["id_a"] == F.col(f"a.{id_col}"))
                  .join(b, pairs["id_b"] == F.col(f"b.{id_col}"))
                  .select("id_a", "id_b",
                          _ov(F.col("a._nt"), F.col("b._nt")).alias("_o")))
    return scored.select("id_a", "id_b", "_o.n_common", "_o.n_a", "_o.n_b")


def containment_pairs(docs: DataFrame, pairs: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      n: int = 3, min_ppm: int = 800_000) -> DataFrame:
    """Asymmetric containment verify over candidate pairs (Broder's
    containment coefficient): keep pairs where EITHER side's gram set is
    >= min_ppm contained in the other — the syndicated-excerpt / quoted-
    subset detector that Jaccard misses (a 100-word quote inside a
    2000-word page has Jaccard ~0.05 but containment ~1.0 on the quote
    side). Scores are exact integer ppm (``n_common * 1e6 DIV n_side``,
    NULL when a side has no grams), so both engines agree bit-for-bit.
    """
    ov = ngram_overlap_pairs(docs, pairs, text_col=text_col,
                             id_col=id_col, n=n)
    cont_a = F.when(F.col("n_a") > 0,
                    F.expr("CAST(n_common * 1000000 DIV n_a AS BIGINT)"))
    cont_b = F.when(F.col("n_b") > 0,
                    F.expr("CAST(n_common * 1000000 DIV n_b AS BIGINT)"))
    return (ov.withColumn("cont_a_ppm", cont_a)
            .withColumn("cont_b_ppm", cont_b)
            .filter(F.greatest(F.coalesce("cont_a_ppm", F.lit(0)),
                               F.coalesce("cont_b_ppm", F.lit(0)))
                    >= min_ppm))
