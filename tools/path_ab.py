#!/usr/bin/env python3
"""Cold A/B timing of one dual path: the default plan against the plan
with one gate function forced to return None (what ``shared.BUDGET = 0``
runs for that gate alone), or one tree against another.

``run`` times each query of a comma-separated list in THIS process:
``shared.clear()`` before each rep, so every rep rebuilds its shared
frames and size-gate probes; the wall is the min of the reps after the
first (the first pays the JIT and the first Python worker). It prints one
JSON line per query with the row count and the order-insensitive result
hash of its last rep.

``ab`` alternates fresh ``run`` processes, side A then side B, ``--runs``
times, and appends each JSON line to ``--out``. Side B differs from A by
``--off`` (a gate function under ``logparse_rs_spark.operators``, e.g.
``dedup._bcast_norm_texts``) and/or by ``--root-b`` (another checkout).

Usage:
  python tools/path_ab.py ab --sf <sf_dir> \\
      --query doc_containment_pairs --off dedup._bcast_norm_texts \\
      --runs 3 --reps 3 --out audit.jsonl
  python tools/path_ab.py run --sf DIR --query Q [--off MOD.FUNC] [--reps N]
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(args) -> None:
    sys.path.insert(0, args.root)
    os.chdir(args.root)
    import __spark_entry__ as entrymod
    from logparse_rs_spark import shared
    from logparse_rs_spark.session import get_spark
    from tools.check_oracle import value_hash

    if args.off:
        mod, fn = args.off.rsplit(".", 1)
        m = importlib.import_module(f"logparse_rs_spark.operators.{mod}")
        getattr(m, fn)  # a misspelt gate fails here, not silently
        setattr(m, fn, lambda *a, **k: None)
    spark = get_spark("path-ab", cores=args.cores,
                      shuffle_partitions=max(2 * args.cores, 8))
    qs = entrymod.queries()
    for name in args.query.split(","):
        walls = []
        for _ in range(args.reps):
            shared.clear()
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf)
            rows = df.collect()
            walls.append(round(time.perf_counter() - t0, 3))
        print(json.dumps({
            "query": name, "sf": args.sf, "root": args.root,
            "off": args.off or None, "reps": walls,
            "wall_s": min(walls[1:] or walls), "rows": len(rows),
            "hash": value_hash(rows, df.columns)}), flush=True)
    spark.stop()


def ab(args) -> None:
    sides = [("A", args.root, ""), ("B", args.root_b or args.root, args.off)]
    for i in range(args.runs):
        for side, root, off in sides:
            cmd = [sys.executable, os.path.abspath(__file__), "run",
                   "--sf", args.sf, "--query", args.query, "--root", root,
                   "--reps", str(args.reps), "--cores", str(args.cores)]
            if off:
                cmd += ["--off", off]
            p = subprocess.run(cmd, capture_output=True, text=True)
            recs = [json.loads(ln) for ln in p.stdout.splitlines()
                    if ln.startswith("{")]
            if p.returncode:
                recs.append({"query": args.query, "sf": args.sf,
                             "root": root, "off": off,
                             "error": p.stderr[-500:]})
            for rec in recs:
                rec.update(side=side, run=i)
                print(json.dumps(rec), flush=True)
                if args.out:
                    with open(args.out, "a") as fh:
                        fh.write(json.dumps(rec) + "\n")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["run", "ab"])
    ap.add_argument("--sf", required=True)
    ap.add_argument("--query", required=True,
                    help="one query or a comma-separated list")
    ap.add_argument("--root", default=HERE)
    ap.add_argument("--off", default="",
                    help="gate function forced to return None (side B)")
    ap.add_argument("--root-b", default="")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    args.root = os.path.abspath(args.root)
    if args.root_b:
        args.root_b = os.path.abspath(args.root_b)
    (run if args.mode == "run" else ab)(args)


if __name__ == "__main__":
    main()
