#!/usr/bin/env python3
"""Compares two sets of benchmark results.

    python3 perfbench/diff.py BASE [CHANGE] [--spec BENCHMARK.json] [--top 15]

BASE and CHANGE are result files written by perfbench/run.py
(.bench_build/results/<workload>.jsonl) or directories holding them.
With one set, prints each workload × end-to-end metric's median,
quartiles and spread (quartile distance over median). With two, also
gives a verdict per metric against the bound in BENCHMARK.json:

  worse       the change's median is worse than the base's by more than the bound
  improved    better by more than either side's spread, and every change run
              beats the base median
  unresolved  a side's spread is wider than the bound, and the runs overlap
  unchanged   otherwise

then ranks by size the per-layer deltas and each op's exec.* deltas
(traced runs), and the per-op time deltas (untraced runs), to show
where a change moved time.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.jsonl"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            runs += [json.loads(line) for line in fh if line.strip()]
    return runs


def quart(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quart(xs)
    return (q3 - q1) / med if med else 0.0


def source(r, kind):
    """The flat name -> value map of one result: its metrics ("m"), its
    per-op times ("o"), or its per-op exec.* figures ("x", keyed
    "<op> <metric>")."""
    if kind == "m":
        return r["metrics"]
    if kind == "o":
        return r.get("op_s", {})
    return {f"{op} {k}": v for op, xs in r.get("op_exec", {}).items() for k, v in xs.items()}


def series(runs, workload, trace, key):
    """Values of one metric (or op figure) over one workload's runs."""
    out = []
    for r in runs:
        if r["workload"] != workload or str(r["trace"]) != str(trace):
            continue
        src = source(r, key[0])
        if key[1] in src:
            out.append(float(src[key[1]]))
    return out


def verdict(base, change, bound, lower_better):
    b, c = statistics.median(base), statistics.median(change)
    if b == 0:
        return "unresolved", 0.0
    gain = (b - c) / b if lower_better else (c - b) / b
    noise = max(spread(base), spread(change))
    beats_all = all((x < b) if lower_better else (x > b) for x in change)
    if gain < -bound:
        return "worse", gain
    if gain > noise and beats_all:
        return "improved", gain
    if noise > bound and not beats_all:
        return "unresolved", gain
    return "unchanged", gain


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--spec", default=os.path.join(HERE, "..", "BENCHMARK.json"))
    ap.add_argument("--top", type=int, default=15)
    a = ap.parse_args()
    spec = json.load(open(a.spec))
    base = load(a.base)
    change = load(a.change) if a.change else None
    workloads = [w["name"] for w in spec["workloads"]]

    print("workload          metric          n   q1        median    q3        spread  "
          + ("| change median  delta    verdict" if change else ""))
    worst = 0
    for w in workloads:
        for m in spec["end_to_end"]:
            xs = series(base, w, 0, ("m", m["name"]))
            if not xs:
                continue
            q1, med, q3 = quart(xs)
            line = (f"{w:<17} {m['name']:<15} {len(xs):<3} {fmt(q1):<9} {fmt(med):<9} "
                    f"{fmt(q3):<9} {spread(xs):<7.3f}")
            if change:
                ys = series(change, w, 0, ("m", m["name"]))
                if ys:
                    v, gain = verdict(xs, ys, m["bound"], m["better"] == "lower")
                    worst = max(worst, v == "worse")
                    line += f" | {fmt(statistics.median(ys)):<13} {-gain:+.3f}   {v}"
            print(line)
    if not change:
        return

    def ranked(trace, kind, names):
        rows = []
        for w in workloads:
            for n in names(w):
                xs, ys = series(base, w, trace, (kind, n)), series(change, w, trace, (kind, n))
                if xs and ys:
                    b, c = statistics.median(xs), statistics.median(ys)
                    if b or c:
                        rows.append(((c - b) / b if b else float("inf"), w, n, b, c))
        rows.sort(key=lambda r: -abs(r[0]))
        for d, w, n, b, c in rows[:a.top]:
            print(f"  {w:<17} {n:<48} {fmt(b):>10} -> {fmt(c):<10} {d:+.3f}")

    print("\nper-layer deltas (traced runs), largest first:")
    ranked(1, "m", lambda w: [m["name"] for m in spec["per_layer"]])
    print("\nper-op exec.* deltas (traced runs), largest first:")
    ranked(1, "x", lambda w: sorted({k for r in base if r["workload"] == w
                                     for k in source(r, "x")}))
    print("\nper-op time deltas (untraced runs), largest first:")
    ranked(0, "o", lambda w: sorted({k for r in base if r["workload"] == w
                                     for k in source(r, "o")}))
    sys.exit(1 if worst else 0)


if __name__ == "__main__":
    main()
