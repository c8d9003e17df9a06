"""Custom stateful streaming operator via applyInPandasWithState.

The reference's only cross-record state is the anonymizer integrity table —
a monotonically growing (field, orig) -> repl memo (table.rs:75-77). In
batch we recover it statelessly (tokens are deterministic); in streaming this
operator maintains it INCREMENTALLY across micro-batches with
applyInPandasWithState: per log_type group, state = set of value-hashes seen,
emitting only NEWLY seen (field, original, replacement) rows per batch — the
streaming audit feed.

Also provides running_type_counts: per-log_type cumulative routed-row counts
across micro-batches (the streaming form of the G2 report counter).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

COUNT_OUTPUT = T.StructType([
    T.StructField("log_type", T.StringType()),
    T.StructField("total_rows", T.LongType()),
    T.StructField("batch_rows", T.LongType()),
])
COUNT_STATE = T.StructType([T.StructField("total", T.LongType())])


def _update_counts(key: Tuple[str], pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    batch = sum(len(p) for p in pdfs)
    total = (state.get[0] if state.exists else 0) + batch
    state.update((total,))
    yield pd.DataFrame({
        "log_type": [key[0]], "total_rows": [total], "batch_rows": [batch]})


def running_type_counts(parsed_stream: DataFrame) -> DataFrame:
    """Cumulative ok-row counts per log type across micro-batches (stateful
    G2). Input: the parsed stream (from operators.parse over readStream)."""
    ok = parsed_stream.filter("status = 'ok'").select("log_type")
    return ok.groupBy("log_type").applyInPandasWithState(
        _update_counts, COUNT_OUTPUT, COUNT_STATE, "append",
        GroupStateTimeout.NoTimeout)


NEW_VALUES_OUTPUT = T.StructType([
    T.StructField("field", T.StringType()),
    T.StructField("original", T.StringType()),
    T.StructField("replacement", T.StringType()),
])
NEW_VALUES_STATE = T.StructType([
    T.StructField("seen", T.ArrayType(T.LongType())),
])


def streaming_integrity_feed(pairs_stream: DataFrame) -> DataFrame:
    """Incremental integrity-table feed: input stream of already-computed
    (field, original, replacement) rows (e.g. from the anonymize expressions
    over a parsed stream); emits each distinct (field, original) exactly once
    across the stream's lifetime. State per field = 64-bit FNV-1a HASHES of
    the seen originals, not the strings themselves — same dedup semantics
    (a collision within one field's value set is a ~2^-64-per-pair event;
    the batch integrity table remains the exact reconciliation path), an
    ~8-byte-per-value checkpoint instead of the full original.

    At 10^12 scale the state per field is bounded by the field's value
    cardinality — the same bound the reference's in-memory memo has
    (table.rs:8), but partitioned by field across executors and checkpointed.
    """
    from ..kernels import fnv1a_series_signed

    def update(key, pdfs, state: GroupState):
        seen = set(state.get[0]) if state.exists else set()
        out_orig, out_repl = [], []
        for p in pdfs:
            if not len(p):
                continue
            hashes = fnv1a_series_signed(p["original"])
            for o, r, h in zip(p["original"], p["replacement"], hashes):
                if o is not None and int(h) not in seen:
                    seen.add(int(h))
                    out_orig.append(o)
                    out_repl.append(r)
        state.update((list(seen),))
        yield pd.DataFrame({
            "field": [key[0]] * len(out_orig),
            "original": out_orig,
            "replacement": out_repl,
        })

    return pairs_stream.groupBy("field").applyInPandasWithState(
        update, NEW_VALUES_OUTPUT, NEW_VALUES_STATE, "append",
        GroupStateTimeout.NoTimeout)


def streaming_exact_dedup(docs_stream: DataFrame) -> DataFrame:
    """Incremental exact dedup over a document stream, keyed by
    xxhash64(normalized text). State = the minimum owning doc_id per
    distinct text key, held by Spark's NATIVE streaming aggregation (one
    long per key in the JVM state store — no Python boundary; the
    applyInPandasWithState form paid ~1 ms of per-GROUP framework cost,
    one group per distinct text). Within a micro-batch the canonical
    survivor is the min doc_id (the batch operator's tie-break,
    dedup.exact_dedup); under ascending-id micro-batches (the staged-
    batch contract every consumer here uses) min-so-far == first-seen-
    batch winner.

    Run the sink in UPDATE output mode (streaming aggregations cannot
    run in append mode without a watermark): a text key touched by
    several micro-batches re-emits once per touching batch — with
    ascending ids every emission carries the SAME survivor, and
    consumers read the survivor set as groupBy(text_key).min(doc_id)
    over the sink rows (deterministic either way).

    At ingest scale pair this with the RocksDB state store; the batch
    exact_dedup remains the backfill/compaction path. The genuinely
    custom-state streaming operators (set-valued memo state) remain on
    applyInPandasWithState — see streaming_integrity_feed."""
    from pyspark.sql import functions as F

    from ..operators.dedup import text_key

    keyed = docs_stream.select(
        F.col("doc_id"), text_key(F.col("text")).alias("text_key"))
    return keyed.groupBy("text_key").agg(
        F.min("doc_id").alias("doc_id")).select("doc_id", "text_key")


def streaming_band_registry(docs_stream: DataFrame) -> DataFrame:
    """Incremental NEAR-dup state over a document stream: the minhash
    band registry. Each arriving doc computes its signature (stateless
    Arrow UDF) and explodes into (band, bucket) keys — the same banding
    as the batch LSH pair join (dedup._banded, identical xxhash64
    bucketing). State = the minimum owning id per (band, bucket), held
    by Spark's NATIVE streaming aggregation (one long per key in the
    JVM state store — no Python boundary in the stateful stage; the
    r5-shaped applyInPandasWithState form paid ~1 ms of per-GROUP
    framework cost, which at one group per distinct bucket was the
    whole operator). Under ascending-id micro-batches (the staged-batch
    contract every consumer here uses) min-so-far == first-batch-owner,
    the same answer the boolean-claim registry gave. A doc that owns
    ALL of its buckets is novel; any lost bucket means a same-band
    collision with earlier content — the streaming analogue of
    incremental fuzzy dedup, with the batch minhash_lsh_pairs path as
    backfill/compaction.

    Run the sink in UPDATE output mode (a streaming aggregation cannot
    run in append mode without a watermark): a key whose buckets appear
    in several micro-batches re-emits once per touching batch — with
    ascending ids every emission carries the SAME owner, and consumers
    read the registry as groupBy(band, bucket).min(id) over the sink
    rows (deterministic either way).

    Scale shape: state is sharded by (band, bucket) across executors —
    bands multiply the key space, not the per-key state (one long);
    at ingest scale pair with the RocksDB state store provider exactly
    like streaming_exact_dedup."""
    from pyspark.sql import functions as F

    from ..operators.dedup import BANDS, _banded, minhash_signatures

    sigs = minhash_signatures(docs_stream)
    banded = _banded(sigs, BANDS)
    return banded.groupBy("band", "bucket").agg(
        F.min("doc_id").alias("doc_id"))
