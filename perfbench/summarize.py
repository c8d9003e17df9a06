"""Medians and quartiles of the run records, per workload.

    python3 perfbench/summarize.py [records-dir] > summary.json

For each workload: the untraced end-to-end metrics with their quartiles and
spread (quartile distance over median), and the medians of the traced runs'
figures (per-layer metrics and the traced end-to-end table).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RECORDS = os.path.join(os.path.dirname(HERE), ".perfbench-work", "records")


def spread(values):
    if len(values) < 2:
        return {"n": len(values), "median": values[0] if values else None}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def summarize(records_dir: str) -> dict:
    by = {}
    for path in sorted(glob.glob(os.path.join(records_dir, "*.json"))):
        if path.endswith("-spans.json"):
            continue
        with open(path) as fh:
            r = json.load(fh)
        w = by.setdefault(r["workload"], {"e2e": {}, "layers": {},
                                          "seeds": [], "failed": 0,
                                          "attempted": 0})
        w["failed"] += r["failed"]
        w["attempted"] += r["attempted"]
        if r["trace"]:
            # a traced run's end-to-end table adds scaling_efficiency
            figures = {**r["end_to_end"], **r["per_layer"]}
            target = w["layers"]
        else:
            figures, target = r["end_to_end"], w["e2e"]
            w["seeds"].append(r["seed"])
        for k, v in figures.items():
            if isinstance(v, (int, float)):
                target.setdefault(k, []).append(v)
    out = {}
    for name, w in sorted(by.items()):
        out[name] = {
            "seeds": sorted(w["seeds"]),
            "attempted": w["attempted"], "failed": w["failed"],
            "end_to_end": {k: spread(v) for k, v in sorted(w["e2e"].items())},
            "traced": {k: statistics.median(v)
                       for k, v in sorted(w["layers"].items())},
        }
    return out


if __name__ == "__main__":
    print(json.dumps(summarize(sys.argv[1] if len(sys.argv) > 1
                               else RECORDS), indent=1))
