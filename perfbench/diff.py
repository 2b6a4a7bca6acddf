#!/usr/bin/env python3
"""Compare two sets of traced perfbench runs, workload by workload and
layer by layer.

    python3 perfbench/diff.py <before> <after>

<before> and <after> are run records (the JSON files run.py writes to
.bench_build/out/) or directories holding them; copy a set aside before
the next runs overwrite it. Only traced records (per-layer metrics) are
read. A side with several records of one workload is reduced to
per-metric medians. Metrics are grouped by layer, the part of the name
before the last dot.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if "workload" in rec and "metrics" in rec and f.endswith("-trace1.json"):
            runs.setdefault(rec["workload"], []).append(rec)
    out = {}
    for workload, recs in runs.items():
        values, units = {}, {}
        for r in recs:
            for k, m in r["metrics"].items():
                values.setdefault(k, []).append(m["value"])
                units[k] = m["unit"]
        out[workload] = {"runs": len(recs),
                         "metrics": {k: (statistics.median(v), units[k]) for k, v in values.items()}}
    return out


def layer(name):
    return name.rsplit(".", 1)[0] if "." in name else "end_to_end"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)
    if not before or not after:
        sys.exit("perfbench diff: no run records found")
    for workload in sorted(set(before) | set(after)):
        if workload not in before or workload not in after:
            print(f"== {workload}: only in {'after' if workload in after else 'before'}\n")
            continue
        b, f = before[workload], after[workload]
        print(f"== {workload} ({b['runs']} run(s) before, {f['runs']} after)")
        print(f"{'layer':<18} {'metric':<34} {'before':>14} {'after':>14} {'change':>8}")
        names = sorted(set(b["metrics"]) | set(f["metrics"]), key=lambda n: (layer(n), n))
        for n in names:
            if n not in b["metrics"] or n not in f["metrics"]:
                print(f"{layer(n):<18} {n:<34} {'(only one side)':>38}")
                continue
            (x, unit), (y, _) = b["metrics"][n], f["metrics"][n]
            change = (y - x) / x if x else (0.0 if y == x else float("inf"))
            print(f"{layer(n):<18} {n:<34} {x:>14.4g} {y:>14.4g} {change:>+8.1%} {unit}")
        print()


if __name__ == "__main__":
    main()
