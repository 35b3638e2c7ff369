#!/usr/bin/env python3
"""Summarises the stream_upsert and olap_scan benchmark artifacts in this
directory: per side (parent, change), the end-to-end medians and quartiles of
the untraced runs, the win count over the pairs, and, from the traced runs,
each sink's write time and the per-batch Spark tasks and files of the Delta
sink.

Usage: python3 plans/pr7/summarise.py   (from the root of a checkout)
"""
import glob, json, os, sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "..", "perfbench"))
sys.path.insert(0, os.path.join(HERE, "..", "..", "tools"))
from workloads import SINKS, STREAM_PATTERN, WARMUP_CYCLES  # noqa: E402
from ab_summary import end_to_end  # noqa: E402


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
    end_to_end(os.path.join(HERE, "runs"), "stream_upsert")
    end_to_end(os.path.join(HERE, "runs"), "olap_scan")
    traced_stream()
    traced_olap()
