"""The end-to-end batch pipeline plan (north rule):

    parse -> enrich -> anonymize -> route (fan-out sinks) -> aggregate

with explicit partitioning (url-hash buckets, M5), per-partition lineage +
metrics (M2), an integrity/audit sink (M3), and checkpoint-based resume via a
bucket ledger (M4) — a killed job replays only unfinished buckets, and bucket
replays are idempotent (dynamic partition overwrite / Iceberg
overwritePartitions).

Scale notes (the design constraints this file encodes):
- the bucket column is pmod(xxhash64(url), n_buckets): input-deterministic,
  uniform even when a few domains are hot (hashing the full url, not the
  domain, is the skew defence — a hot domain's pages scatter across all
  buckets). n_buckets should be sized so one bucket ≈ 100-500 MB of input at
  the target scale; buckets are the resume/lineage AND the file grain: the
  parse stage is written partitioned by bucket, one stage task per bucket,
  so every sink that scans it writes at most one file per row group of the
  bucket's stage file (one file while the bucket stages under parquet's
  128 MB row group) without a shuffle of its own. Spark's task parallelism
  within a run comes from the one repartition below.
- one staged parse pass feeds every sink + the metrics/report aggregates:
  the fan-out never re-reads or re-parses the input.
- all per-sink aggregates are hash aggregates with map-side partials; the
  only wide shuffles are the repartition-by-bucket and the final groupBys
  over already-narrow columns.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..anonymizer import CompiledAnonymizer, load_anonymizer
from ..operators.anonymize import anonymize_expr, audit_table
from ..operators.parse import (STATUS_OK, by_log_type, explode_lines,
                               fields_col, fields_map, parse_lines)
from ..schema import CompiledSchema, load_schema
from ..sources.writers import ParquetWriter, make_writer


@dataclass
class SinkSpec:
    """One fan-out sink: a log type routed to its own table.

    payload:
      "columns" — per-field columnar projection; the sinks that share a
                  table (one log type or several) are ONE write job
                  partitioned by (log_type, bucket)
      "map"     — type-erased map<string,string> payload (SURVEY §1.2) of
                  every schema field (no ``columns``); all map-payload
                  sinks share ONE table partitioned by (log_type, bucket)
                  and ONE write job — the fixed-cost saver for the long
                  tail of low-volume log types
    """

    log_type: str
    table: str
    columns: Optional[Sequence[str]] = None   # None = full schema width
    payload: str = "columns"


@dataclass
class PipelineConfig:
    schema_path: str
    anonymizer_path: Optional[str]
    out_root: str
    sinks: List[SinkSpec]
    n_buckets: int = 64
    partitions_per_run: Optional[int] = None   # task parallelism; default 2x cores


@dataclass
class PipelineResult:
    run_id: str
    buckets_processed: int
    buckets_skipped: int
    per_sink_rows: Dict[str, int]
    status_counts: Dict[str, int]
    wall_s: float
    docs_in: int
    lines_in: int
    timings: Dict[str, float] = field(default_factory=dict)


LEDGER_TABLE = "_ledger"
STAGE_TABLE = "_parsed_stage"
METRICS_TABLE = "_metrics"
AUDIT_TABLE = "_audit"
REJECTS_TABLE = "_rejects"

# the analytic dimensions the fact table keeps (default_sinks), and the
# ones whose originals the audit sink records beside their tokens
DIMS = ("source_address", "destination_address", "rule_name", "source_user",
        "application", "action", "device_name")
AUDIT_DIMS = ("source_address", "destination_address", "device_name")


# concurrent fan-out jobs: enough to hide per-job commit latency, FIXED
# at 4 — r1 scaled this with defaultParallelism and the commit phase
# anti-scaled (more cores -> more simultaneous partitionBy commits
# contending on the store). Task-level parallelism inside each job
# already uses every core; job-level concurrency only needs to cover
# scheduling + commit gaps. Fixed (not core-derived) so an N-core and a
# 4N-core run execute the IDENTICAL job schedule — the cluster-size
# scaling comparison then varies exactly one thing.
SINK_CONCURRENCY = 4

# bookkeeping tables, built driver-side as one-partition Arrow tables: the
# JVM reads the Arrow stream directly, where createDataFrame(list) would
# parallelize pickled rows through a Python worker pool of its own
METRICS_ARROW = pa.schema([
    ("part_id", pa.int32()), ("bucket", pa.int32()), ("rows_in", pa.int64()),
    ("rows_ok", pa.int64()), ("rows_rejected", pa.int64()),
    ("bytes_in", pa.int64()), ("run_id", pa.string())])
LEDGER_ARROW = pa.schema([
    ("bucket", pa.int32()), ("rows_in", pa.int64()), ("rows_ok", pa.int64()),
    ("docs", pa.int64()), ("status", pa.string()), ("run_id", pa.string())])


def field_by_type(name: str, positions: Dict[str, int],
                  anon: Optional[CompiledAnonymizer]) -> Column:
    """One column for field `name` across several log types: the split
    field at the row's own type's position (null for every other type),
    anonymized ONCE (not once per type). A Python UDF inside a when branch
    runs on every input row whichever branch the row takes, so a per-type
    tokenize chain costs one UDF per (type, field); picking the position
    first and anonymizing the picked value costs one per field."""
    c = F.get(F.col("fields"), by_log_type(positions))
    if anon is not None:
        c = anonymize_expr(c, anon.plan_for(name), anon.default_salt)
    return c


def build_map_payload(parsed: DataFrame, schema: CompiledSchema,
                      types: Sequence[str],
                      anon: Optional[CompiledAnonymizer]) -> DataFrame:
    """Type-erased map<string,string> payload for the long-tail map sinks:
    each anonymized field name first becomes one column (field_by_type:
    one tokenize per name over all types), then fields_map zips each row's
    schema names with its split fields, reading the anonymized names from
    those columns."""
    df = fields_col(parsed.filter(
        (F.col("status") == STATUS_OK) & F.col("log_type").isin(types)))
    anon_pos: Dict[str, Dict[str, int]] = {}   # name -> {log_type: position}
    for t in types:
        for name, pos in schema.effective_positions(t):
            if anon is not None and anon.plan_for(name).mode is not None:
                anon_pos.setdefault(name, {})[t] = pos
    df = df.withColumns({f"_anon_{n}": field_by_type(n, pos, anon)
                         for n, pos in anon_pos.items()})
    payload = fields_map(schema, types,
                         {n: F.col(f"_anon_{n}") for n in anon_pos})
    return df.select("url", "line_ordinal", "log_type",
                     payload.alias("parsed"),
                     "raw_excerpt", "hash64", "bucket")


def with_bucket(pages: DataFrame, n_buckets: int) -> DataFrame:
    return pages.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )


def done_buckets(spark: SparkSession, writer: ParquetWriter) -> List[int]:
    ledger = writer.read(spark, LEDGER_TABLE)
    if ledger is None:
        return []
    rows = (ledger.filter(F.col("status") == "done")
            .select("bucket").distinct().collect())
    return sorted(r["bucket"] for r in rows)


def run_pipeline(spark: SparkSession, pages: DataFrame, cfg: PipelineConfig,
                 resume: bool = True,
                 max_buckets: Optional[int] = None) -> PipelineResult:
    """Run (or resume) the full pipeline over a pages DataFrame.

    `max_buckets` limits how many pending buckets this invocation processes —
    the hook the resume test uses to simulate a killed job (process K of N,
    rerun, verify only N-K replay).
    """
    t0 = time.perf_counter()
    timings: Dict[str, float] = {}

    def mark(label: str, t_start: float) -> None:
        timings[label] = round(time.perf_counter() - t_start, 3)

    _check_sinks(cfg.sinks)
    run_id = uuid.uuid4().hex[:12]
    schema = load_schema(cfg.schema_path)
    anon = load_anonymizer(cfg.anonymizer_path) if cfg.anonymizer_path else None
    # Iceberg when the runtime has it (north rule: Iceberg sinks; out_root is
    # then a catalog namespace), parquet-dirs otherwise — same idempotent
    # replace-only-touched-partitions semantics either way
    writer = make_writer(spark, cfg.out_root)

    bucketed = with_bucket(pages, cfg.n_buckets)

    skipped: List[int] = []
    if resume:
        skipped = done_buckets(spark, writer)
        if skipped:
            bucketed = bucketed.filter(~F.col("bucket").isin(skipped))
    if max_buckets is not None:
        pending = [r["bucket"] for r in
                   bucketed.select("bucket").distinct()
                   .orderBy("bucket").limit(max_buckets).collect()]
        bucketed = bucketed.filter(F.col("bucket").isin(pending))

    n_parts = cfg.partitions_per_run or max(
        2 * int(spark.sparkContext.defaultParallelism), cfg.n_buckets // 4, 8)
    # explicit repartition on the bucket key: every row of a bucket lands
    # in ONE task, so the stage writes one file per bucket directory and
    # the (url, line_ordinal) identity never crosses partitions. This is
    # the run's only repartition: the sinks inherit its bucket clustering
    # from the stage files instead of re-shuffling for it.
    bucketed = bucketed.repartition(n_parts, "bucket")

    exploded = explode_lines(bucketed, keep_cols=("lang", "bucket"))
    parsed_plan = parse_lines(exploded, schema)
    parsed_plan = parsed_plan.withColumn("part_id", F.spark_partition_id())
    # narrow byte-count stage column: the metrics aggregation then never
    # scans the fat `line` column (same trick as the _adt_* audit dims —
    # bookkeeping reads must stay cheap relative to the data they describe)
    parsed_plan = parsed_plan.withColumn("_line_bytes",
                                         F.length("line").cast("long"))

    # audit-dim ORIGINALS as narrow stage columns: the audit job then reads
    # three pruned string columns instead of re-splitting every line (the
    # split is the expensive kernel; paying it once in the stage pass keeps
    # the fan-out phase pure column reads)
    audit_dims_active = [
        d for d in AUDIT_DIMS
        if anon is not None and anon.plan_for(d).mode is not None
    ]
    if audit_dims_active:
        sink_types = sorted({s.log_type for s in cfg.sinks})
        parsed_plan = fields_col(parsed_plan).withColumns({
            f"_adt_{d}": field_by_type(d, {
                t: pos for t in sink_types
                for name, pos in schema.effective_positions(t)
                if name == d}, None)
            for d in audit_dims_active}).drop("fields")

    # ---- staging checkpoint: ONE parse pass materialized as parquet -------
    # Measured against .cache(): the in-memory columnar cache serializes the
    # fat line/array columns slower than parquet writes them, and every
    # cached read deserializes full batches; the staged parquet gives every
    # downstream consumer real column pruning. The stage is partitioned by
    # BUCKET, each bucket written by one task into one file sorted by
    # (bucket, log_type): a scan split never divides a parquet row group,
    # so each sink's partitionBy("bucket") writes at most one file per
    # stage row group with no shuffle, and a sink filtering on
    # log_type skips row groups by their min/max stats. (Partitioning by
    # log_type would prune per-type scans, but every sink would then
    # re-shuffle by bucket to write one file per bucket.) The stage table
    # doubles as the run's lineage artifact.
    t_stage = time.perf_counter()
    writer.write(parsed_plan.sortWithinPartitions("bucket", "log_type"),
                 STAGE_TABLE, partition_by=["bucket"],
                 overwrite_mode="static")
    mark("stage_write", t_stage)
    parsed = writer.read(spark, STAGE_TABLE)
    if parsed is None:  # nothing pending -> empty stage -> no parquet files
        return PipelineResult(run_id, 0, len(skipped), {}, {},
                              time.perf_counter() - t0, 0, 0, timings)

    # ---- bookkeeping aggregations (M2 metrics + ledger inputs + routed
    # counts) run as ONE light job in the same concurrent pool as the sink
    # writes; everything else (status counts, per-partition metrics rows,
    # ledger rows, docs-per-bucket) derives driver-side from its small
    # result — no dedicated Spark job per bookkeeping table. Docs are
    # counted as line_ordinal==0 rows of the STAGED parse (every non-null
    # text yields at least the ordinal-0 line, even empty text), so the
    # count never re-evaluates the raw source plan — for a WARC source that
    # re-run would repeat the whole gzip+extract pass, and a source that
    # changed between the two scans would break ledger consistency. A page
    # with NULL text explodes to zero lines and is not counted as a doc.
    fine_stats: List = []   # (part_id, bucket, status, log_type, n, bytes, docs)

    def collect_fine_stats() -> None:
        fine_stats.extend(
            parsed.groupBy("part_id", "bucket", "status", "log_type")
            .agg(F.count("*").alias("n"),
                 F.sum("_line_bytes").alias("bytes_in"),
                 F.sum((F.col("line_ordinal") == 0).cast("long"))
                 .alias("docs"))
            .collect())

    # ---- fan-out sinks (M1) + metrics + rejects + audit, as CONCURRENT
    # Spark jobs over the one staged parse (driver threads only queue jobs;
    # executors time-share tasks). Every sink writes partitioned by bucket
    # (a columnar table by (log_type, bucket)) straight from its stage
    # scan, with no shuffle: a scan split never divides a parquet row
    # group, so each row group of a bucket's stage file is written by one
    # task -> 1 file per bucket dir below 128 MB of staged bucket,
    # instead of (tasks x buckets) small files. At scale the
    # 100-500MB bucket grain IS the file size you want; the file/commit
    # count is what killed r1's sink phase (217s@8c vs 60s@2c, BENCH_r01).
    # -------------------------------------------------------------------------
    from concurrent.futures import ThreadPoolExecutor

    per_sink_rows: Dict[str, int] = {}

    def write_columnar(sinks_in_table: List[SinkSpec]) -> None:
        """The columnar sinks of one table, one log type or several, as
        ONE write job over ONE stage scan: each column picks its field's
        position by log_type and is anonymized once (field_by_type), a
        type missing a column yields nulls there, and the table is written
        partitioned by (log_type, bucket) — readers of one type still get
        partition pruning, replay still overwrites only the touched (type,
        bucket) partitions, and the phase pays one job's scheduling +
        codegen + commit instead of one per type. At 8 cores the per-job
        fixed cost (~2-4 s of planning + Janino codegen + commit setup,
        BENCH/BASELINE.md) dominated two nearly-empty write jobs — folding
        them is the N->4N efficiency lever, since fixed cost is what does
        NOT shrink with cores."""
        types = [s.log_type for s in sinks_in_table]
        positions: Dict[str, Dict[str, int]] = {}   # name -> {type: pos}
        for s in sinks_in_table:
            for name, pos in schema.effective_positions(s.log_type):
                if s.columns is None or name in s.columns:
                    positions.setdefault(name, {})[s.log_type] = pos
        cols = [field_by_type(n, p, anon).alias(n)
                for n, p in positions.items()]
        # the column order of a by-name union of per-type projections: the
        # first type's fields, the enrichment pair, then the fields only
        # later types have
        k = sum(types[0] in p for p in positions.values())
        out = fields_col(parsed.filter(
            (F.col("status") == STATUS_OK)
            & F.col("log_type").isin(types))).select(
            "url", "line_ordinal", *cols[:k], "raw_excerpt", "hash64",
            *cols[k:], "log_type", "bucket")
        writer.write(out, sinks_in_table[0].table,
                     partition_by=["log_type", "bucket"])

    def write_map_sinks(map_sinks: List[SinkSpec]) -> None:
        """All map-payload sinks in ONE write job: type-erased
        map<string,string> parsed payload. Partitioned by BUCKET only
        (the replay/idempotence grain); log_type stays a data column,
        sorted within each file so readers filtering one type skip row
        groups via parquet min/max stats. Measured: (log_type, bucket)
        dirs cost ~2x the commit time at 64 buckets, and at 4096 buckets
        x T types the dir count would pressure catalog metadata for a
        long-tail table that is rarely read per-type."""
        out = build_map_payload(
            parsed, schema, [s.log_type for s in map_sinks], anon)
        writer.write(out.sortWithinPartitions("bucket", "log_type"),
                     map_sinks[0].table, partition_by=["bucket"])

    def write_rejects() -> None:
        rejects = parsed.filter(F.col("status") != STATUS_OK).select(
            "url", "line_ordinal", "bucket", "status", "log_type", "line")
        writer.write(rejects, REJECTS_TABLE, partition_by=["bucket"])

    def write_audit() -> None:
        # the _adt_* stage columns already hold the per-type originals
        # (null for types lacking the dim / non-ok rows), so this is a
        # pruned 3-column scan -> distinct -> anonymize-the-distincts
        stacked = parsed.filter(F.col("status") == STATUS_OK).select(
            *[F.col(f"_adt_{d}").alias(d) for d in audit_dims_active])
        audit = audit_table(stacked, anon, audit_dims_active)
        # a resumed or repeated run derives triples an earlier run already
        # recorded: append only the (field, original, replacement) triples
        # the table does not hold yet
        seen = writer.read(spark, AUDIT_TABLE)
        if seen is not None:
            triple = ["field", "original", "replacement"]
            audit = audit.join(seen.select(*triple), triple, "left_anti")
        writer.append(audit.withColumn("run_id", F.lit(run_id)), AUDIT_TABLE)

    columnar_sinks = [s for s in cfg.sinks if s.payload == "columns"]
    map_sinks = [s for s in cfg.sinks if s.payload == "map"]
    col_groups: Dict[str, List[SinkSpec]] = {}
    for s in columnar_sinks:
        col_groups.setdefault(s.table, []).append(s)
    # HEAVIEST-FIRST job order (classic LPT scheduling): the map-payload
    # union sink and the full-width columnar sinks dominate the phase's
    # critical path, so they enter the pool first and the small bookkeeping
    # jobs (fine_stats, audit) backfill the tail instead of extending it.
    jobs = []
    if map_sinks:
        jobs.append((map_sinks[0].table, lambda: write_map_sinks(map_sinks)))
    for table, group in col_groups.items():
        jobs.append((table, lambda g=group: write_columnar(g)))
    jobs.append(("rejects", write_rejects))
    jobs.append(("fine_stats", collect_fine_stats))
    if audit_dims_active:
        jobs.append(("audit", write_audit))
    t_sinks = time.perf_counter()

    def timed(label: str, job):
        def run():
            t = time.perf_counter()
            job()
            timings[f"sink:{label}"] = round(time.perf_counter() - t, 3)
        return run

    pool_width = min(SINK_CONCURRENCY, len(jobs))
    with ThreadPoolExecutor(max_workers=pool_width) as pool:
        futures = [pool.submit(timed(lbl, j)) for lbl, j in jobs]
        for f in futures:
            f.result()  # surface the first failure
    mark("sink_writes", t_sinks)

    # ---- derive all bookkeeping driver-side from the two small stat sets ---
    status_counts: Dict[str, int] = {}
    type_counts: Dict[str, int] = {}
    metric_rows: Dict[tuple, Dict] = {}
    bucket_rows: Dict[int, Dict] = {}
    for r in fine_stats:
        status_counts[r["status"]] = status_counts.get(r["status"], 0) + r["n"]
        if r["status"] == STATUS_OK:
            type_counts[r["log_type"]] = \
                type_counts.get(r["log_type"], 0) + r["n"]
        mk = (r["part_id"], r["bucket"])
        m = metric_rows.setdefault(mk, {
            "part_id": r["part_id"], "bucket": r["bucket"], "rows_in": 0,
            "rows_ok": 0, "rows_rejected": 0, "bytes_in": 0, "run_id": run_id})
        m["rows_in"] += r["n"]
        m["bytes_in"] += r["bytes_in"] or 0
        m["rows_ok" if r["status"] == STATUS_OK else "rows_rejected"] += r["n"]
        b = bucket_rows.setdefault(r["bucket"], {
            "bucket": r["bucket"], "rows_in": 0, "rows_ok": 0, "docs": 0,
            "status": "done", "run_id": run_id})
        b["rows_in"] += r["n"]
        b["docs"] += r["docs"] or 0
        if r["status"] == STATUS_OK:
            b["rows_ok"] += r["n"]
    lines_in = sum(status_counts.values())

    for sink in cfg.sinks:
        shared = (sink.payload == "map"
                  or len(col_groups.get(sink.table, ())) > 1)
        key = (f"{sink.table}/log_type={sink.log_type}" if shared
               else sink.table)
        per_sink_rows[key] = type_counts.get(sink.log_type, 0)

    # ---- metrics + ledger writes (tiny Arrow frames); ledger commit (M4)
    # stays ordered AFTER all sink writes ------------------------------------
    t_ledger = time.perf_counter()
    writer.append(spark.createDataFrame(pa.Table.from_pylist(
        list(metric_rows.values()), schema=METRICS_ARROW)), METRICS_TABLE)
    writer.append(spark.createDataFrame(pa.Table.from_pylist(
        list(bucket_rows.values()), schema=LEDGER_ARROW)).withColumn(
            "committed_at", F.current_timestamp()), LEDGER_TABLE)
    mark("ledger", t_ledger)
    n_buckets_done = len(bucket_rows)
    docs_in = sum(b["docs"] for b in bucket_rows.values())

    return PipelineResult(
        run_id=run_id,
        buckets_processed=n_buckets_done,
        buckets_skipped=len(skipped),
        per_sink_rows=per_sink_rows,
        status_counts=status_counts,
        wall_s=time.perf_counter() - t0,
        docs_in=docs_in,
        lines_in=lines_in,
        timings=timings,
    )


def _check_sinks(sinks: Sequence[SinkSpec]) -> None:
    """Raise ValueError for a sink list run_pipeline cannot write as
    given: a payload other than "columns" or "map" (no writer would touch
    it, yet its rows would be reported), a map-payload sink with
    ``columns`` (the map payload holds every schema field), or map-payload
    sinks spread over several tables."""
    for s in sinks:
        if s.payload not in ("columns", "map"):
            raise ValueError(f"sink {s.table}/{s.log_type}: payload "
                             f"{s.payload!r} is not 'columns' or 'map'")
        if s.payload == "map" and s.columns is not None:
            raise ValueError(f"sink {s.table}/{s.log_type}: a map-payload "
                             "sink writes every schema field; drop columns")
    if len({s.table for s in sinks if s.payload == "map"}) > 1:
        raise ValueError("all map-payload sinks must share one table")


def default_sinks(schema: CompiledSchema) -> List[SinkSpec]:
    """One sink per log type, in three write jobs however many log types
    the schema has (fact table, map table, rejects): TRAFFIC/THREAT, the
    high-volume types, get columnar projections pruned to the analytic
    DIMS, folded into ONE `sink_fact` table partitioned by (log_type,
    bucket) and written by ONE job; the long tail of low-volume types
    shares the `sink_other` map-payload table (also one write job). A
    full-width table per type is an explicit
    ``SinkSpec(t, f"sink_{t.lower()}")`` in the config's sink list."""
    sinks = []
    for t in sorted(schema.type_to_fields):
        if t in ("TRAFFIC", "THREAT"):
            names = set(schema.type_to_fields[t])
            sinks.append(SinkSpec(t, "sink_fact",
                                  columns=[d for d in DIMS if d in names]))
        else:
            sinks.append(SinkSpec(t, "sink_other", payload="map"))
    return sinks
