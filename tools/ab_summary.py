#!/usr/bin/env python3
"""Summarises a same-session A/B of the benchmark's untraced runs.

A runs directory holds one artifact per run, named
`<tag>-<side>-<workload>-s<seed>-trace0.json`, where side is `parent` or
`change`; the two runs with the same tag and seed form a pair. For every
workload and every end-to-end metric of BENCHMARK.json this prints each side's
q1 / median / q3, how many pairs the change won (ties count for neither), and
whether the gain rule holds: the change wins at least 9 of 10 pairs, and the
medians differ, in the better direction, by more than the parent's
interquartile range.

Usage: python3 tools/ab_summary.py <runs dir>
"""
import glob, json, os, statistics, sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
# +1 when a higher value is better, -1 when a lower one is
BETTER = {m["name"]: 1 if m["better"] == "higher" else -1 for m in BENCH["end_to_end"]}
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def pairs(runs, workload):
    """The (parent, change) artifacts of every complete pair, in tag order."""
    by = {}
    for f in glob.glob(os.path.join(runs, "*-*-%s-s*-trace0.json" % workload)):
        tag, side = os.path.basename(f).split("-")[:2]
        with open(f) as fh:
            a = json.load(fh)
        by.setdefault((tag, a["seed"]), {})[side] = a
    return [(p["parent"], p["change"]) for _, p in sorted(by.items())
            if "parent" in p and "change" in p]


def gain(par, chg, sign):
    """(wins, whether the gain rule holds) for the change over the parent."""
    wins = sum(1 for a, b in zip(par, chg) if (b - a) * sign > 0)
    q1, med, q3 = quartiles(par)
    holds = wins >= 0.9 * len(par) and (statistics.median(chg) - med) * sign > q3 - q1
    return wins, holds


def end_to_end(runs, workload):
    ps = pairs(runs, workload)
    print("## %s: %d untraced pairs" % (workload, len(ps)))
    if not ps:
        return
    print("| metric | parent q1 / median / q3 | change q1 / median / q3 | change wins | gain rule |")
    print("|---|---|---|---|---|")
    for m, sign in BETTER.items():
        par = [p["end_to_end"][m]["value"] for p, _ in ps]
        chg = [c["end_to_end"][m]["value"] for _, c in ps]
        wins, holds = gain(par, chg, sign)
        fmt = lambda q: " / ".join("%.3f" % v for v in q)
        print("| %s | %s | %s | %d of %d | %s |" % (
            m, fmt(quartiles(par)), fmt(quartiles(chg)), wins, len(ps),
            "holds" if holds else "does not hold"))
    every = [a for p in ps for a in p]
    print("failed ops over all these runs: %d of %d" % (
        sum(a["failed"] for a in every), sum(a["attempted"] for a in every)))
    print()


if __name__ == "__main__":
    if len(sys.argv) != 2 or not os.path.isdir(sys.argv[1]):
        sys.exit(__doc__.strip().splitlines()[-1])
    for w in WORKLOADS:
        end_to_end(sys.argv[1], w)
