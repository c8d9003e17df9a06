"""One benchmark leg in a fresh process: one SparkSession, one timed job.

``run.py`` starts this module once per leg and reads the JSON object it
prints last. The leg reports its own set-up time (process start to a ready
session with the schema and anonymizer loaded), the wall of the timed call,
the peak resident memory of its process tree, and, when traced, the
per-layer figures gathered after the timed call.

    python3 perfbench/worker.py pipeline --cores 4 --pages P --out DIR ...
    python3 perfbench/worker.py queries --cores 4 --sf-dir DIR ...
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

# the timed query suite: one or two queries per family, in a fixed order
# (doc_near_dup_dedup and doc_text_neardup_verified are left out: on the
# generated documents they return a few rows fewer than their oracle)
QUERIES = ["log_route_counts", "log_top10_sources_anon", "doc_minhash_pairs",
           "doc_simhash_candidates", "doc_dsir_weights", "events_asof_join",
           "events_top3_per_type", "emb_bruteforce_topk", "tpch_q1"]
DIMS = ["source_address", "destination_address", "rule_name", "source_user",
        "application", "action", "device_name"]
N_BUCKETS = 16
PARTITIONS = 8
RESUME_FIRST_BUCKETS = 5
UDF_NAMES = {"_tok": "tokenize"}


def proc_tree_hwm_mb(pid: int) -> float:
    """Sum of VmHWM (peak resident set) over ``pid`` and its descendants:
    the Spark driver's Python process, the JVM and its Python workers."""
    children = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def ns_per_item(fn, n_items: int, repeats: int = 5) -> float:
    """Median wall of ``fn()`` over ``repeats`` calls, in ns per item."""
    walls = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls) * 1e9 / max(n_items, 1)


def noop_s(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


class Leg:
    """Session set-up shared by both leg kinds."""

    def __init__(self, args):
        from logparse_rs_spark.anonymizer import load_anonymizer
        from logparse_rs_spark.schema import load_schema
        from logparse_rs_spark.session import get_spark
        from spans import Tracer

        self.args = args
        self.tracer = Tracer(bool(args.layers), f"{args.kind}-{os.getpid()}")
        conf = {"spark.local.dir": os.path.join(args.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(args.work,
                                                        "warehouse")}
        self.eventlog = os.path.join(args.work, f"eventlog-{os.getpid()}")
        if args.eventlog:
            os.makedirs(self.eventlog, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + self.eventlog})
        with self.tracer.span("session.setup"):
            self.spark = get_spark(f"perfbench-{args.kind}", cores=args.cores,
                                   shuffle_partitions=PARTITIONS,
                                   extra_conf=conf)
            self.schema_path = os.path.join(ROOT, "schemas", "schema.json")
            self.anon_path = os.path.join(ROOT, "configs",
                                          "anonymizer.sample.json")
            self.schema = load_schema(self.schema_path)
            self.anon = load_anonymizer(self.anon_path)
        self.out = {"setup_s": time.time() - args.spawn_time,
                    "cores": args.cores}
        self.layers = {}

    def layer_kernels(self, raw_lines, doc_texts) -> None:
        """In-process timings of the UDF kernels on this workload's lines
        and of the dedup batch kernels on the documents."""
        import pandas as pd

        from logparse_rs_spark import kernels
        from logparse_rs_spark.operators.dedup import (minhash_sig_batch,
                                                       simhash_batch)

        raw = pd.Series(raw_lines, dtype=object)
        with self.tracer.span("kernels"):
            stripped = kernels.strip_syslog_prefix_series(raw)
            pos = dict(self.schema.effective_positions("TRAFFIC"))
            values = (stripped[stripped.str.contains(",TRAFFIC,")]
                      .str.split(",").str[pos["source_address"]].dropna())
            plan = self.anon.plan_for("source_address")
            self.layers.update({
                "kernels.strip_ns_per_line": ns_per_item(
                    lambda: kernels.strip_syslog_prefix_series(raw), len(raw)),
                "kernels.fnv_ns_per_line": ns_per_item(
                    lambda: kernels.fnv1a_series(stripped), len(raw)),
                "kernels.split_ns_per_line": ns_per_item(
                    lambda: kernels.split_csv_series(stripped), len(raw)),
                "kernels.tokenize_ns_per_value": ns_per_item(
                    lambda: kernels.tokenize_series(
                        values, plan.token_prefix, plan.field_salt,
                        self.anon.default_salt), len(values)),
            })
        with self.tracer.span("dedup.kernels"):
            self.layers.update({
                "dedup.minhash_ns_per_doc": ns_per_item(
                    lambda: minhash_sig_batch(doc_texts), len(doc_texts), 3),
                "dedup.simhash_ns_per_doc": ns_per_item(
                    lambda: simhash_batch(doc_texts), len(doc_texts), 3),
            })

    def layer_parse(self, pages) -> None:
        """Noop-sink walls of the parse and projection operators."""
        from pyspark.sql import functions as F

        from logparse_rs_spark.operators.parse import (STATUS_OK, parse_pages,
                                                       project_type)

        with self.tracer.span("operators.parse"):
            parsed = parse_pages(pages, self.schema)
            self.layers["parse.noop_s"] = noop_s(parsed)
            by_status = dict(parsed.groupBy("status").agg(F.count("*"))
                             .collect())
        self.layers["parse.lines_in"] = sum(by_status.values())
        self.layers["parse.ok_lines"] = by_status.get(STATUS_OK, 0)
        self.layers["parse.rejected_lines"] = (
            self.layers["parse.lines_in"] - self.layers["parse.ok_lines"])
        anonymized = project_type(parsed, self.schema, "TRAFFIC",
                                  columns=DIMS, anon=self.anon)
        with self.tracer.span("operators.anonymize"):
            self.layers["project.noop_s"] = noop_s(project_type(
                parsed, self.schema, "TRAFFIC", columns=DIMS))
            self.layers["project_anon.noop_s"] = noop_s(anonymized)
        with self.tracer.span("functions.udf_profile"):
            self.layer_udfs([parsed, anonymized])

    def layer_udfs(self, frames) -> None:
        """Python time inside each pandas UDF, from PySpark's perf UDF
        profiler, over one more noop pass of ``frames`` (profiled apart
        from the timed passes, which it would slow)."""
        import pstats

        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        for df in frames:
            noop_s(df)
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        out = os.path.join(self.args.work, f"udf-profile-{os.getpid()}")
        self.spark.profile.dump(out, type="perf")
        for path in glob.glob(os.path.join(out, "*.pstats")):
            stats = pstats.Stats(path).stats
            (_, _, func), (_, _, _, cum, _) = max(
                ((k, v) for k, v in stats.items() if k[2] != "wrapper"),
                key=lambda kv: kv[1][3])
            name = UDF_NAMES.get(func, func.lstrip("_"))
            self.layers[f"udf.{name}_s"] = (
                self.layers.get(f"udf.{name}_s", 0.0) + cum)

    def finish(self, window) -> None:
        """Stop the session; when traced, parse the event log of the timed
        window and attach the spans; print the result."""
        self.spark.stop()
        if self.args.eventlog:
            from eventlog import events, runtime_metrics

            self.layers.update(runtime_metrics(
                events(self.eventlog), window[0] * 1e3, window[1] * 1e3))
        if self.args.layers:
            self.out["spans"] = self.tracer.spans
        self.out["layers"] = self.layers
        print(json.dumps(self.out))


def run_pipeline_leg(args) -> None:
    leg = Leg(args)
    from logparse_rs_spark.plans.pipeline import (PipelineConfig,
                                                  default_sinks, run_pipeline)

    def cfg(root):
        return PipelineConfig(
            schema_path=leg.schema_path, anonymizer_path=leg.anon_path,
            out_root=root, sinks=default_sinks(leg.schema),
            n_buckets=N_BUCKETS, partitions_per_run=PARTITIONS)

    pages = leg.spark.read.parquet(args.pages)
    t0 = time.time()
    with leg.tracer.span("plans.pipeline.run_pipeline"):
        res = run_pipeline(leg.spark, pages, cfg(args.out), resume=False)
    t1 = time.time()
    leg.out.update({
        "wall_s": t1 - t0, "peak_rss_mb": proc_tree_hwm_mb(os.getpid()),
        "docs_in": res.docs_in, "lines_in": res.lines_in,
        "per_sink_rows": res.per_sink_rows,
        "status_counts": res.status_counts, "timings": res.timings})
    if args.layers:
        layer_writers(leg, args.out)
        layer_resume(leg, cfg(args.out + "-resume"), pages)
        leg.layer_parse(pages)
        import pyarrow.parquet as pq

        from inputs import document_texts
        text = pq.read_table(args.pages, columns=["text"]).column("text")
        leg.layer_kernels([ln for t in text.to_pylist()
                           for ln in t.split("\n")],
                          document_texts(args.sf_dir))
    leg.finish((t0, t1))


def layer_writers(leg, root: str) -> None:
    files = dirs = size = 0
    for d, sub, names in os.walk(root):
        dirs += len(sub)
        files += len(names)
        size += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    leg.layers.update({"writers.files_out": files, "writers.dirs_out": dirs,
                       "writers.bytes_out": size})


def layer_resume(leg, cfg, pages) -> None:
    """The pipeline split in two calls: the first stops after K buckets,
    the second resumes from the ledger and writes the rest."""
    from logparse_rs_spark.plans.pipeline import done_buckets, run_pipeline
    from logparse_rs_spark.sources.writers import make_writer

    with leg.tracer.span("plans.pipeline.resume"):
        t = time.perf_counter()
        first = run_pipeline(leg.spark, pages, cfg,
                             max_buckets=RESUME_FIRST_BUCKETS)
        leg.layers["resume.first_s"] = time.perf_counter() - t
        t = time.perf_counter()
        done = done_buckets(leg.spark, make_writer(leg.spark, cfg.out_root))
        leg.layers["resume.done_buckets_s"] = time.perf_counter() - t
        t = time.perf_counter()
        second = run_pipeline(leg.spark, pages, cfg, resume=True)
        leg.layers["resume.replay_s"] = time.perf_counter() - t
    leg.layers.update({"resume.buckets_replayed": second.buckets_processed,
                       "resume.buckets_skipped": second.buckets_skipped})
    leg.out["resume"] = {
        "root": cfg.out_root, "done_after_first": len(done),
        "first_rows": first.per_sink_rows, "second_rows": second.per_sink_rows,
        "n_buckets": cfg.n_buckets, "first_buckets": RESUME_FIRST_BUCKETS}


def run_queries_leg(args) -> None:
    leg = Leg(args)
    import __spark_entry__ as entry
    from checks import result_digest
    qs = entry.queries()
    # session ready: the entry module and its query table are part of it
    leg.out["setup_s"] = time.time() - args.spawn_time

    def run_all(action, label):
        walls = {}
        with leg.tracer.span(f"queries.{label}"):
            for name in QUERIES:
                t = time.perf_counter()
                with leg.tracer.span(f"queries.{label}.{name}"):
                    action(name, qs[name](leg.spark, args.sf_dir))
                walls[name] = time.perf_counter() - t
        return walls

    digests = {}

    def collect(name, df):
        rows = df.collect()
        digests[name] = (rows, df.columns)

    t0 = time.time()
    cold = run_all(collect, "cold")
    t1 = time.time()
    leg.out.update({"wall_s": sum(cold.values()), "query_s": cold,
                    "peak_rss_mb": proc_tree_hwm_mb(os.getpid())})
    leg.out["digests"] = {n: result_digest([tuple(r) for r in rows], cols)
                          for n, (rows, cols) in digests.items()}
    if args.layers:
        layer_queries(leg, cold, run_all, collect)
        from logparse_rs_spark.fixtures import ensure_fixture_pair
        pages_path, _ = ensure_fixture_pair(entry.FIXTURE_ROOT,
                                            entry.SF_PAGES["sf0.01"])
        # the log queries cached their parse of these pages; the operator
        # layers are timed on a fresh parse
        leg.spark.catalog.clearCache()
        leg.layer_parse(leg.spark.read.parquet(pages_path))
        import pyarrow.parquet as pq

        from inputs import document_texts
        text = pq.read_table(pages_path, columns=["text"]).column("text")
        leg.layer_kernels([ln for t in text.to_pylist()
                           for ln in t.split("\n")],
                          document_texts(args.sf_dir))
    leg.finish((t0, t1))


def layer_queries(leg, cold, run_all, collect) -> None:
    """Warm and noop passes over the same suite, family sums and leaves."""
    n_rows = sum(r["rows"] for r in leg.out["digests"].values())
    warm = run_all(collect, "warm")
    noop = run_all(lambda name, df: noop_s(df), "noop")
    for name, s in cold.items():
        family = f"queries.{name.split('_', 1)[0]}_s"
        leg.layers[family] = leg.layers.get(family, 0.0) + s
        leg.layers[f"q.{name}_s"] = s
    suite, warm_s, noop_s_ = (sum(cold.values()), sum(warm.values()),
                              sum(noop.values()))
    leg.layers.update({
        "queries.warm_suite_s": warm_s, "queries.noop_suite_s": noop_s_,
        "queries.cold_warm_gap_s": suite - warm_s,
        "collect.overhead_s": warm_s - noop_s_, "collect.rows": n_rows})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=["pipeline", "queries"])
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--pages")
    ap.add_argument("--out")
    ap.add_argument("--eventlog", type=int, default=0,
                    help="write the Spark event log and parse it after")
    ap.add_argument("--layers", type=int, default=0,
                    help="gather the per-layer figures after the timed call")
    args = ap.parse_args()
    if args.kind == "pipeline":
        run_pipeline_leg(args)
    else:
        run_queries_leg(args)


if __name__ == "__main__":
    main()
