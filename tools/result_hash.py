#!/usr/bin/env python3
"""Order-insensitive result fingerprints for every queries() entry at any
sf dir — the cross-revision equivalence proof for optimization work: run it
on the old tree and the new tree and diff the JSON. The normalization and
hash are tools/check_oracle.py's own (imported from it).

Usage: python tools/result_hash.py [sf_dir] [out.json] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.check_oracle import value_hash  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else ""
    only = set(sys.argv[3:])

    import __spark_entry__ as entrymod
    from logparse_rs_spark.session import get_spark

    spark = get_spark(app_name="result-hash", cores=8, shuffle_partitions=16)
    qs = entrymod.queries()
    out = {}
    t_all = time.time()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            rows = df.collect()
            out[name] = {"rows": len(rows),
                         "hash": value_hash(rows, df.columns),
                         "cols": sorted(df.columns)}
            print(f"{name}: rows={len(rows)} hash={out[name]['hash']}",
                  flush=True)
        except Exception as e:
            out[name] = {"error": f"{e.__class__.__name__}: {e}"[:300]}
            print(f"{name}: ERROR {out[name]['error'][:120]}", flush=True)
    print(f"total {time.time() - t_all:.1f}s")
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
