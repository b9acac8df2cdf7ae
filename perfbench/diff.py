#!/usr/bin/env python3
"""Compares two sets of benchmark records (e.g. a parent and a change).

Usage: python3 perfbench/diff.py <records_a> <records_b>

Each argument is a directory of run records as `run.py` writes them
(perfbench/out/records/*.json). First the deterministic counters of the
traced runs are compared exactly, per (workload, seed): jobs, tasks,
shuffle bytes, `Par.rr_exchanges` and `functions.native_frac`. Then each
end-to-end metric of BENCHMARK.json is compared per workload from the
untraced runs: medians and quartiles of each side, one row per (metric,
workload), marked
  better      B wins at least 9 of 10 runs paired by seed, and the medians
              differ by more than A's quartile spread;
  worse       B's median is worse than A's by more than the metric's bound;
  unresolved  a side's quartile spread exceeds the bound, unless every run
              of B beats every run of A;
  not worse   otherwise: within the bound.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
COUNTER_SUFFIXES = (".jobs", ".tasks", ".shuffle_write_mb")
COUNTER_NAMES = ("Par.rr_exchanges", "functions.native_frac")


def load(d):
    recs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if "stamp" in r:
            recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def counters(rec):
    return {k: v["value"] for k, v in rec["per_layer"].items()
            if k.endswith(COUNTER_SUFFIXES) or k in COUNTER_NAMES}


def compare_counters(a, b):
    rows = []
    ta = {(r["stamp"]["workload"], r["stamp"]["seed"]): r for r in a if r["stamp"]["traced"]}
    tb = {(r["stamp"]["workload"], r["stamp"]["seed"]): r for r in b if r["stamp"]["traced"]}
    for key in sorted(ta.keys() & tb.keys()):
        ca, cb = counters(ta[key]), counters(tb[key])
        diffs = [(k, ca.get(k), cb.get(k)) for k in sorted(ca.keys() | cb.keys())
                 if ca.get(k) != cb.get(k)]
        rows.append((key, diffs))
    return rows


def verdict(va, vb, better, bound):
    """One of better / worse / unresolved / not worse, as in the module doc."""
    sign = 1 if better == "higher" else -1
    qa, qb = quartiles(va), quartiles(vb)
    ma, mb = qa[1], qb[1]
    spread_a = (qa[2] - qa[0]) / abs(ma) if ma else 0.0
    spread_b = (qb[2] - qb[0]) / abs(mb) if mb else 0.0
    if sign * (mb - ma) < -bound * abs(ma):
        return "worse"
    pairs = list(zip(va, vb))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    if pairs and wins >= 0.9 * len(pairs) and sign * (mb - ma) > qa[2] - qa[0]:
        return "better"
    if max(spread_a, spread_b) > bound:
        if min(sign * y for y in vb) > max(sign * x for x in va):
            return "better"
        return "unresolved"
    return "not worse"


def compare_end_to_end(a, b, spec):
    rows = []
    workloads = sorted({r["stamp"]["workload"] for r in a + b})
    for m in spec["end_to_end"]:
        for w in workloads:
            def values(recs):
                runs = sorted((r for r in recs if r["stamp"]["workload"] == w
                               and not r["stamp"]["traced"]), key=lambda r: r["stamp"]["seed"])
                return [r["end_to_end"][m["name"]]["value"] for r in runs]
            va, vb = values(a), values(b)
            if not va or not vb:
                continue
            rows.append((m["name"], w, quartiles(va), quartiles(vb), len(va), len(vb),
                         verdict(va, vb, m["better"], m["bound"])))
    return rows


def main(da, db):
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    a, b = load(da), load(db)
    print("Deterministic counters (traced runs, exact):")
    for (w, seed), diffs in compare_counters(a, b):
        if not diffs:
            print(f"  {w} seed {seed}: identical")
        for k, x, y in diffs:
            print(f"  {w} seed {seed}: {k} {x} -> {y}")
    print("\nEnd-to-end (untraced runs; q1 / median / q3):")
    print(f"  {'metric':14s} {'workload':16s} {'A':>28s} {'B':>28s}  n(A,B)  verdict")
    for name, w, qa, qb, na, nb, v in compare_end_to_end(a, b, spec):
        fa = " / ".join(f"{x:.4g}" for x in qa)
        fb = " / ".join(f"{x:.4g}" for x in qb)
        print(f"  {name:14s} {w:16s} {fa:>28s} {fb:>28s}  {na},{nb}  {v}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
