"""Structured Streaming front-end for the pipeline (SURVEY §2.1 S4, §2.6 O4/O5).

The reference's streaming surfaces — a per-line iterator (rust_accel.py:473)
and an asyncio-queue HTTP ingest loop (README.md:437-470) — map to Structured
Streaming: a file/directory (or socket/Kafka in production) readStream of
pages, processed per micro-batch by the SAME batch pipeline via foreachBatch
(exactly-once per micro-batch against the idempotent bucket-overwrite sinks),
plus native watermarked windowed aggregates for the report counters.

Schema hot-reload (schema.rs:97-115) happens here: every micro-batch re-checks
the schema file's mtime and recompiles before parsing — the streaming analog
of the reference's mtime-guarded reload.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
from itertools import count
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.parse import parse_pages
from ..schema import CompiledSchema, load_schema
from ..sources.warc import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream of pages (each new parquet file = new data)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def read_lines_socket(spark: SparkSession, host: str = "localhost",
                      port: int = 9999) -> DataFrame:
    """Network line-ingest source (reference S4: the asyncio-queue HTTP
    listener, README.md:437-470). Structured Streaming's socket source is
    the sandbox-runnable network path; in production the same downstream
    plan hangs off a Kafka source (format('kafka') + value cast) — the
    contract is just a streaming DataFrame of raw log lines.

    Identity note: a network line has no (url, line_ordinal) provenance, so
    the stream path tags url='socket://host:port' and ordinal 0 — the
    reference's queue ingest likewise has no per-line provenance beyond
    arrival (README.md:452)."""
    return (
        spark.readStream.format("socket")
        .option("host", host).option("port", port).load()
        .select(F.lit(f"socket://{host}:{port}").alias("url"),
                F.lit(0).alias("line_ordinal"),
                F.col("value").alias("raw_line"))
    )


# the FIXED record schema every Kafka source batch/stream exposes
# (spark-sql-kafka connector contract)
KAFKA_RECORD_SCHEMA = T.StructType([
    T.StructField("key", T.BinaryType()),
    T.StructField("value", T.BinaryType()),
    T.StructField("topic", T.StringType()),
    T.StructField("partition", T.IntegerType()),
    T.StructField("offset", T.LongType()),
    T.StructField("timestamp", T.TimestampType()),
    T.StructField("timestampType", T.IntegerType()),
])


def kafka_records_to_lines(records: DataFrame) -> DataFrame:
    """Kafka records -> the raw-lines contract shared with the socket source
    (url provenance, line_ordinal, raw_line). Works on a streaming OR batch
    DataFrame of KAFKA_RECORD_SCHEMA shape, so the whole downstream plan
    (parse -> counts/sinks) is testable without a broker; url carries
    topic/partition and line_ordinal the Kafka offset — real per-line
    provenance, unlike the socket source's arrival-only identity."""
    return records.select(
        F.concat(F.lit("kafka://"), F.col("topic"), F.lit("/"),
                 F.col("partition").cast("string")).alias("url"),
        F.col("offset").alias("line_ordinal"),
        F.col("value").cast("string").alias("raw_line"),
    )


def read_lines_kafka(spark: SparkSession, bootstrap_servers: str,
                     topic: str) -> DataFrame:
    """Kafka line-ingest source: format('kafka') -> kafka_records_to_lines.
    Requires the spark-sql-kafka connector on the classpath (absent in this
    sandbox — the projection and downstream plan are covered by tests over
    KAFKA_RECORD_SCHEMA-shaped frames instead)."""
    records = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")
        .load()
    )
    return kafka_records_to_lines(records)


def socket_type_counts(lines_stream: DataFrame,
                       schema: CompiledSchema) -> DataFrame:
    """Running routed-row counts per log type over a raw-line stream (the
    reference's queue-ingest report loop)."""
    from ..operators.parse import parse_lines

    parsed = parse_lines(lines_stream, schema)
    return (parsed.filter(F.col("status") == "ok")
            .groupBy("log_type").agg(F.count("*").alias("n")))


class HotReloadingSchema:
    """Per-micro-batch schema reload keyed on file mtime (S7 hot reload)."""

    def __init__(self, schema_path: str):
        self.schema_path = schema_path
        self._compiled: Optional[CompiledSchema] = None

    def get(self) -> CompiledSchema:
        if self._compiled is None or self._compiled.stale():
            self._compiled = load_schema(self.schema_path)
        return self._compiled


def stream_pipeline(spark: SparkSession, pages_stream: DataFrame,
                    schema_path: str, checkpoint_dir: str,
                    batch_fn: Callable[[DataFrame, int, CompiledSchema], None]):
    """foreachBatch driver: parse each micro-batch with the (hot-reloaded)
    schema and hand the parsed DataFrame to batch_fn(df, epoch, schema) —
    typically a closure around plans.pipeline sinks. The checkpoint dir gives
    exactly-once micro-batch tracking; the sinks' idempotent bucket overwrite
    makes replays after failure safe (same guarantee as the batch ledger)."""
    reloader = HotReloadingSchema(schema_path)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        schema = reloader.get()
        parsed = parse_pages(batch_df, schema)
        batch_fn(parsed, epoch_id, schema)

    return (
        pages_stream.writeStream
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def streaming_type_counts(pages_stream: DataFrame,
                          schema: CompiledSchema) -> DataFrame:
    """Native watermarked windowed aggregate: routed-row counts per log type
    per event-time window of warc_ts (late pages beyond the watermark are
    dropped deterministically)."""
    parsed = parse_pages(
        pages_stream.withWatermark("warc_ts", "10 minutes"),
        schema, keep_cols=("lang", "warc_ts"))
    return (
        parsed.filter(F.col("status") == "ok")
        .groupBy(F.window("warc_ts", "5 minutes"), F.col("log_type"))
        .agg(F.count("*").alias("n"))
    )


def streaming_sessions(events_stream: DataFrame) -> DataFrame:
    """Gap-based sessionization as a NATIVE streaming aggregate:
    ``F.session_window`` merges a user's events separated by less than
    30 minutes into one dynamic window, and the watermark closes
    (finalizes) sessions deterministically once event time has moved an
    hour past their end — the streaming form of the batch lag-over-window
    sessionization, with state per OPEN session only (closed sessions are
    emitted and evicted, so state does not grow with stream length).
    Returns (key, session_start, session_end, n_events)."""
    # watermarks require TIMESTAMP (LTZ) event time; parquet event tables
    # surface TIMESTAMP_NTZ — cast via the session timezone (UTC in the
    # session factory), the same convention the batch queries use
    ev = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    ev = ev.withWatermark("ts", "1 hour")
    return (ev.groupBy(F.session_window(F.col("ts"), "30 minutes"),
                       F.col("user_id"))
            .agg(F.count("*").alias("n_events"))
            .select(F.col("user_id"),
                    F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "n_events"))


def run_stream_to_memory(spark: SparkSession, src_dir: str,
                         schema_path: str, query_name: str = "stream_counts"
                         ) -> DataFrame:
    """Drive a bounded stream to completion (availableNow) aggregating routed
    counts into an in-memory sink — the smoke-test surface for streaming.
    The sink table is ``query_name`` plus run_available_now's per-session
    sequence suffix."""
    schema = load_schema(schema_path)
    stream = read_pages_stream(spark, src_dir)
    agg = streaming_type_counts(stream, schema)
    # complete mode: append would hold back windows the watermark hasn't
    # closed, which on a bounded smoke stream means zero emitted rows
    return run_available_now(spark, agg, query_name, "complete")


# ---- bounded availableNow runs --------------------------------------------

def _stream_checkpoint() -> str:
    # explicit checkpoint dir on tmpfs when available: the implicit
    # temp checkpoint goes to local disk, whose writeback queue can
    # dominate state-store commit time (BENCH/NOTES §6). On a real
    # cluster this is an HDFS/object-store path.
    # tmpfs must not leak: dirs embed the owning pid; dead-owner dirs
    # are reaped here, and each query removes its own on completion.
    # A recycled pid can make an orphan look alive forever (ADVICE.md),
    # so dirs older than 6 h are reaped regardless of apparent
    # liveness — no legitimate checkpoint in this repo lives that long.
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    if base:
        for stale in glob.glob(os.path.join(base, "lps_ckpt_*_p*")):
            try:
                aged = (time.time() - os.stat(stale).st_mtime) > 6 * 3600
            except OSError:
                continue  # raced with its owner's cleanup
            try:
                os.kill(int(stale.rsplit("_p", 1)[1]), 0)
                alive = True
            except (ValueError, ProcessLookupError):
                alive = False
            except PermissionError:
                alive = True  # alive under another user
            if aged or not alive:
                shutil.rmtree(stale, ignore_errors=True)
    return tempfile.mkdtemp(prefix="lps_ckpt_", dir=base,
                            suffix=f"_p{os.getpid()}")


# memory-sink names must be unique per session
_sink_seq = count(1)


def run_available_now(spark, stream: DataFrame, name: str,
                      output_mode: str) -> DataFrame:
    """Drive ``stream`` to completion with an availableNow trigger into a
    fresh memory sink and return the sink table. The checkpoint is
    removed afterwards: a memory sink cannot resume from one."""
    table = f"{name}_{next(_sink_seq)}"
    ckpt = _stream_checkpoint()
    # state-store instances = shuffle partitions at stream start; a
    # stream-stream join runs FOUR stores per partition, so a bounded
    # fixture stream wants few fat partitions, not the batch default.
    # (At cluster scale the right number tracks executor count — this
    # is per-run tuning, not semantics.)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        (stream.writeStream.outputMode(output_mode).format("memory")
         .option("checkpointLocation", ckpt)
         .queryName(table).trigger(availableNow=True).start()
         .awaitTermination())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(table)


def streaming_interval_join(points_stream: DataFrame,
                            intervals_stream: DataFrame,
                            watermark: str = "24 hours") -> DataFrame:
    """Watermarked STREAM-STREAM point-in-interval join — the online form
    of ``operators/asof.interval_join`` (ad attribution, request/response
    pairing): every point row joins every same-``user_id`` interval row
    with ``c_start <= ts < c_end``, as the two streams arrive in any
    interleaving.

    Spark's stream-stream inner join buffers both sides in state; the
    explicit event-time range condition plus the two watermarks bound that
    state (an interval older than ``watermark`` past the join range can
    never match a future point, so the state store evicts it). At scale
    the state is sharded by the join key across executors — the same
    (key, time) locality the batch bucketed form exploits.

    Semantics match the batch operator exactly: half-open
    ``start <= point < end``, inner join, duplicates preserved.
    """
    pts = (points_stream
           .withColumn("ts", F.col("ts").cast("timestamp"))
           .withWatermark("ts", watermark))
    ivs = (intervals_stream
           .withColumn("c_start", F.col("c_start").cast("timestamp"))
           .withColumn("c_end", F.col("c_end").cast("timestamp"))
           .withWatermark("c_start", watermark))
    cond = ((pts["user_id"] == ivs["user_id"])
            & (pts["ts"] >= ivs["c_start"])
            & (pts["ts"] < ivs["c_end"]))
    return pts.join(ivs, cond, "inner").drop(ivs["user_id"])
