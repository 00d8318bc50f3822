#!/usr/bin/env python3
"""Diffs two sets of benchmark results metric by metric, layer by layer.

    python3 perfbench/diff.py BEFORE AFTER

BEFORE and AFTER are result files written by run.py (under
.bench_build/graft/results/) or directories of them. Results are grouped by
workload and by traced/untraced run; for each metric the median and the
quartiles of each side are printed with the change of the medians. Per-layer
metrics are grouped by their layer (the name up to the first dot).
"""
import json
import os
import statistics
import sys


def load(path):
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".json")]
             if os.path.isdir(path) else [path])
    out = {}
    for f in files:
        r = json.load(open(f))
        w = r["record"]["workload"]
        for name, (value, unit) in r["detail"].items():
            out.setdefault((w, r["trace"], name), (unit, []))[1].append(value)
    return out


def summary(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def fmt(v):
    return f"{v:.4g}"


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip())
        return 2
    a, b = load(argv[1]), load(argv[2])
    rows = []
    for key in sorted(set(a) | set(b), key=lambda k: (k[0], k[1], k[2].split(".")[0], k[2])):
        w, trace, name = key
        unit = (a.get(key) or b.get(key))[0]
        cells = []
        meds = []
        for side in (a, b):
            if key in side:
                q1, med, q3 = summary(side[key][1])
                cells.append(f"{fmt(med)} [{fmt(q1)}, {fmt(q3)}] n={len(side[key][1])}")
                meds.append(med)
            else:
                cells.append("-")
        change = (f"{100 * (meds[1] - meds[0]) / abs(meds[0]):+.1f}%"
                  if len(meds) == 2 and meds[0] else "")
        layer = name.split(".")[0] if trace else "end-to-end"
        rows.append((w, layer, name, unit, cells[0], cells[1], change))
    last = None
    for w, layer, name, unit, ca, cb, ch in rows:
        if (w, layer) != last:
            print(f"\n== {w} / {layer}")
            last = (w, layer)
        print(f"  {name:40s} {unit:6s} {ca:36s} -> {cb:36s} {ch}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
