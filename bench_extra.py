#!/usr/bin/env python3
"""Round-6 optimization sidecar bench. bench.py is FROZEN for measurement;
this harness exists so per-query work can be isolated, repeated and
plan-captured without touching the official record (guide §1.4/§1.5).

Per query: an optional warm pass (materializes fixtures + codegen), then N
timed passes. Timing uses .collect() by default — the same methodology as
bench.py's time_queries so numbers are comparable — or the noop sink with
--noop to time the computation without driver collection. With
--explain-dir, each query's formatted plan is written before any pass runs;
--no-warm --repeats 0 makes that a plan-only run.

Usage:
  python bench_extra.py --sf /root/testdata/sf1.0 \
      [--queries doc_minhash_pairs,doc_lm_score] [--repeats 1] [--noop] \
      [--explain-dir plans/r06 --explain-suffix before] [--out FILE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default="",
                    help="comma-separated subset (default: all)")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("--noop", action="store_true",
                    help="time df.write.format('noop') instead of collect()")
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--explain-suffix", default="plan")
    ap.add_argument("--cores", type=int,
                    default=min(8, int(os.environ.get(
                        "SPARK_GRAFT_CPUS", os.cpu_count() or 8))))
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from logparse_rs_spark.session import get_spark

    spark = get_spark("bench-extra", cores=args.cores,
                      shuffle_partitions=max(2 * args.cores, 8))
    qs = entrymod.queries()
    names = [n.strip() for n in args.queries.split(",") if n.strip()] \
        or list(qs)

    def run(df):
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.collect()

    results: dict = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        try:
            if args.explain_dir:
                os.makedirs(args.explain_dir, exist_ok=True)
                plan = qs[name](spark, args.sf)._jdf.queryExecution() \
                    .explainString(spark._jvm.org.apache.spark.sql.execution
                                   .ExplainMode.fromString("formatted"))
                with open(os.path.join(
                        args.explain_dir,
                        f"{name}_{args.explain_suffix}.txt"), "w") as fh:
                    fh.write(plan)
            if not args.no_warm:
                run(fn(spark, args.sf))
            samples = []
            for _ in range(args.repeats):
                t0 = time.perf_counter()
                run(fn(spark, args.sf))
                samples.append(round(time.perf_counter() - t0, 3))
            if samples:
                results[name] = {"min_s": min(samples), "samples": samples}
                print(f"{name}: {min(samples)} {samples}", flush=True)
            else:
                results[name] = {"samples": []}
        except Exception as e:
            results[name] = {"error": f"{e.__class__.__name__}: {e}"[:500]}
            print(f"{name}: ERROR {e.__class__.__name__}: {str(e)[:200]}",
                  flush=True)
        spark.sparkContext.setJobDescription(None)

    line = json.dumps({"sf": args.sf, "cores": args.cores,
                       "noop": args.noop, "results": results})
    print(line, flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
