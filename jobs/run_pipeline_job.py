#!/usr/bin/env python3
"""spark-submit driver for the full pipeline.

    spark-submit --py-files dist/logparse_rs_spark.zip \
        jobs/run_pipeline_job.py \
        --pages /data/pages --out /data/out \
        --schema schemas/schema.json --anon configs/anonymizer.sample.json \
        [--buckets 4096] [--no-resume] [--max-buckets K]

On a cluster the SparkSession comes from spark-submit's conf (master,
executors); locally it falls back to the tuned local session. The job writes
`default_sinks`' layout (the `sink_fact` TRAFFIC/THREAT table, the
`sink_other` map table, `_rejects`) plus the stage, metrics, audit and
ledger tables under --out. It prints one JSON line with routed-row counts
and wall time, and exits non-zero on failure — the shape a workflow
scheduler (airflow/cron) expects.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow running both via spark-submit --py-files and directly from the repo
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True,
                    help="pages table path (parquet or WARC)")
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "warc"],
                    help="pages input format (warc = Common-Crawl files)")
    ap.add_argument("--out", required=True, help="output root for all sinks")
    ap.add_argument("--schema", required=True)
    ap.add_argument("--anon", default=None)
    ap.add_argument("--buckets", type=int, default=4096)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--max-buckets", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    # under spark-submit the JVM gateway already exists (PYSPARK_GATEWAY_PORT
    # set) and carries the submitted master/executor conf — building through
    # get_spark() there would OVERRIDE --master with local[N]; only direct
    # `python jobs/run_pipeline_job.py` runs fall back to the tuned local
    # session
    if active is not None or os.environ.get("PYSPARK_GATEWAY_PORT"):
        spark = active or SparkSession.builder.getOrCreate()
    else:
        from logparse_rs_spark.session import get_spark
        spark = get_spark("logparse-pipeline")

    from logparse_rs_spark.plans.pipeline import (
        PipelineConfig, default_sinks, run_pipeline)
    from logparse_rs_spark.schema import load_schema

    schema = load_schema(args.schema)
    cfg = PipelineConfig(
        schema_path=args.schema,
        anonymizer_path=args.anon,
        out_root=args.out,
        sinks=default_sinks(schema),
        n_buckets=args.buckets,
    )
    if args.format == "warc":
        from logparse_rs_spark.sources.warc import read_warc_pages
        pages = read_warc_pages(spark, args.pages)
    else:
        pages = spark.read.parquet(args.pages)
    result = run_pipeline(spark, pages, cfg, resume=not args.no_resume,
                          max_buckets=args.max_buckets)
    print(json.dumps({
        "run_id": result.run_id,
        "buckets_processed": result.buckets_processed,
        "buckets_skipped": result.buckets_skipped,
        "docs_in": result.docs_in,
        "lines_in": result.lines_in,
        "per_sink_rows": result.per_sink_rows,
        "status_counts": result.status_counts,
        "wall_s": round(result.wall_s, 3),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
