#!/usr/bin/env python3
"""Summarises the stream_upsert and olap_scan benchmark artifacts in this
directory: per side (parent, change), the end-to-end medians and quartiles of
the untraced runs, the win count over the pairs, and, from the traced runs,
each sink's write time and the per-batch Spark tasks and files of the Delta
sink.

Usage: python3 plans/pr7/summarise.py   (from the root of a checkout)
"""
import glob, json, os, statistics, sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "..", "perfbench"))
from workloads import SINKS, STREAM_PATTERN, WARMUP_CYCLES  # noqa: E402

BETTER = {"setup_s": -1, "ops_per_s": 1, "op_p50_ms": -1, "op_tail_ms": -1}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def end_to_end(workload):
    pairs = {}
    for side in ("parent", "change"):
        for f in glob.glob(os.path.join(HERE, "runs", "*-%s-%s-*-trace0.json" % (side, workload))):
            tag = os.path.basename(f).split("-")[0]
            seed = json.load(open(f))["seed"]
            pairs.setdefault((tag, seed), {})[side] = json.load(open(f))
    pairs = [p for p in pairs.values() if len(p) == 2]
    print("## %s: %d untraced pairs" % (workload, len(pairs)))
    if not pairs:
        return
    print("| metric | parent q1 / median / q3 | change q1 / median / q3 | change wins |")
    print("|---|---|---|---|")
    for m, sign in BETTER.items():
        par = [p["parent"]["end_to_end"][m]["value"] for p in pairs]
        chg = [p["change"]["end_to_end"][m]["value"] for p in pairs]
        wins = sum(1 for a, b in zip(par, chg) if (b - a) * sign > 0)
        fmt = lambda q: " / ".join("%.3f" % v for v in q)
        print("| %s | %s | %s | %d of %d |" % (m, fmt(quartiles(par)), fmt(quartiles(chg)), wins, len(pairs)))
    fails = [(p[s]["failed"], p[s]["attempted"]) for p in pairs for s in ("parent", "change")]
    print("failed ops over all these runs: %d of %d" % (sum(f for f, _ in fails), sum(a for _, a in fails)))
    print()


def traced_stream():
    print("## stream_upsert, traced")
    n_warm = WARMUP_CYCLES * len(STREAM_PATTERN)
    for f in sorted(glob.glob(os.path.join(HERE, "runs", "tr-*-stream_upsert-*-trace1.json"))):
        a = json.load(open(f))
        pl = a["per_layer"]
        sink = [SINKS[STREAM_PATTERN[(n_warm + o["i"]) % len(STREAM_PATTERN)]][1]
                for o in a["per_op_trace"]]
        delta = [o for o, s in zip(a["per_op_trace"], sink) if s == "delta"]
        print("%s: write_ms p50 delta %.0f, iceberg %.0f; driver_ms_per_write p50 %.0f" % (
            os.path.basename(f),
            pl["catalog.write_ms.stream_delta.p50"]["value"],
            pl["catalog.write_ms.stream_iceberg.p50"]["value"],
            pl["catalog.driver_ms_per_write.p50"]["value"]))
        print("  delta batches: tasks %s" % [int(o["tasks"]) for o in delta])
        print("  delta batches: jobs %s" % [int(o["jobs"]) for o in delta])
        print("  delta batches: files added %s" % [int(o["files_added"]) for o in delta])
        for t in a["tables"]:
            print("  end: %s %s data_files=%d files=%d log_bytes=%d" % (
                t["format"], t["name"], t["data_files"], t["files"], t["log_bytes"]))
    print()


def traced_olap():
    print("## olap_scan, traced")
    for f in sorted(glob.glob(os.path.join(HERE, "runs", "tr-*-olap_scan-*-trace1.json"))):
        a = json.load(open(f))
        print("%s: plans.metadata_agg_hit_ratio %.3f" % (
            os.path.basename(f), a["per_layer"]["plans.metadata_agg_hit_ratio"]["value"]))
    print()


if __name__ == "__main__":
    end_to_end("stream_upsert")
    end_to_end("olap_scan")
    traced_stream()
    traced_olap()
