#!/usr/bin/env python3
"""Compare two sets of benchmark runs, per workload and metric.

    python3 perfbench/compare.py PARENT CHANGE [--benchmark BENCHMARK.json]

PARENT and CHANGE are each a file or a directory of files holding the
standard output of `perfbench/run.py` runs (any number of runs per file).
Runs of the two sets are paired by workload and seed; make each pair back
to back, alternating which side runs first.

For every workload and end-to-end metric it prints each side's median and
quartiles and a verdict:
  improved / worse   the change wins (loses) at least 9 of 10 pairs, ties
                     counting for neither, over at least 10 pairs, and the
                     medians differ by more than the parent's interquartile
                     range;
  REGRESSION         the change's median is worse than the parent's by more
                     than the metric's bound in BENCHMARK.json;
  unresolved         the parent's own spread (IQR over median) is wider than
                     the bound, unless every change run beats every parent run;
  same               none of the above.
"""
import argparse
import json
import os
import statistics
import sys

SKIP = {"requests", "checks"}


def load_runs(path):
    """{(workload, seed): {metric: value}} from run outputs under `path`."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    runs = {}
    for f in files:
        head = None
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                try:
                    obj = json.loads(line)
                except ValueError:
                    continue
                if "detail" in obj:
                    head = obj
                elif "metrics" in obj and head is not None:
                    if not head.get("trace"):
                        runs[(head["workload"], head["seed"])] = {
                            k: v["value"] for k, v in head["detail"].items()}
                    head = None
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, bound, better="lower"):
    """Verdict for paired samples (parent[i] and change[i] ran together)."""
    sign = 1 if better == "lower" else -1
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    n = len(parent)
    iqr = p3 - p1
    if bound is not None and sign * (cm - pm) > bound * abs(pm):
        return "REGRESSION"
    if n >= 10 and abs(cm - pm) > iqr:
        if wins >= 0.9 * n:
            return "improved"
        if losses >= 0.9 * n:
            return "worse"
    if bound is not None and pm and iqr / abs(pm) > bound:
        if all(sign * (p - c) > 0 for p in parent for c in change):
            return "improved"
        return "unresolved"
    return "same"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    a = ap.parse_args(argv)
    bounds, better = {}, {}
    if os.path.exists(a.benchmark):
        with open(a.benchmark) as f:
            for m in json.load(f)["end_to_end"]:
                bounds[m["name"]] = m["bound"]
                better[m["name"]] = m["better"]
    parent, change = load_runs(a.parent), load_runs(a.change)
    keys = sorted(set(parent) & set(change))
    if not keys:
        print("no runs of the same workload and seed in both sets", file=sys.stderr)
        return 2
    print(f"{'workload':16} {'metric':16} {'pairs':>5} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'bound':>6}  verdict")
    bad = False
    for w in sorted({k[0] for k in keys}):
        ks = [k for k in keys if k[0] == w]
        for m in sorted(set.intersection(*(set(parent[k]) & set(change[k]) for k in ks)) - SKIP):
            p = [parent[k][m] for k in ks]
            c = [change[k][m] for k in ks]
            v = verdict(p, c, bounds.get(m), better.get(m, "lower"))
            bad |= v == "REGRESSION"
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:16} {m:16} {len(ks):5} {fmt(quartiles(p)):>30} "
                  f"{fmt(quartiles(c)):>30} {bounds.get(m, '-')!s:>6}  {v}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
