#!/usr/bin/env python3
"""Steadiness check for the benchmark.

    python3 perfbench/steady.py

Run from the root of a checkout. For each workload of BENCHMARK.json it runs
`perfbench/run.py` once for each of the seeds 1 to 10 and reports, for every
end-to-end metric, the median and the spread: the distance between the first
and third quartile (`statistics.quantiles(values, n=4)`) as a share of the
median, against the metric's bound. It then runs the first seed twice traced
and fails if a count that must repeat exactly for one seed does not: Spark
jobs per op, and per write the files and data-file bytes added and the rows
changed, over the ops the runs share, plus the data-file part of
`write_bytes_per_row` and `space_amp` when the runs executed the same ops.
Table-format metadata is left out of the byte counts: Iceberg's holds
run-dependent values of varying length, such as snapshot ids.
Last, it runs the second seed traced too and reports the tracing overhead:
each end-to-end metric's median over the traced runs minus its median over
the untraced runs of the same seeds.

Writes `.bench_build/perfbench/steady.json`; exits 1 if a spread exceeds its
bound, a run is not correct, or an exact count did not repeat.
"""

import json
import os
import statistics
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")
SEEDS = list(range(1, 11))
REPEATS = 2  # traced runs of the first seed, for the exact-count check


def run(workload, seed, seconds, trace):
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                          capture_output=True, text=True)
    line = json.loads(proc.stdout.strip().splitlines()[-1]) if proc.stdout.strip() else None
    path = os.path.join(OUT, "artifacts", "%s-seed%d-trace%d.json" % (workload, seed, trace))
    artifact = None
    if os.path.exists(path):
        with open(path) as f:
            artifact = json.load(f)
    return proc.returncode, line, artifact, proc.stderr[-2000:]


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else 0.0


def exact_counts(art):
    """The counts a traced run must repeat exactly for its seed, per op."""
    per_op = {t["i"]: t for t in art.get("per_op_trace", [])}
    out = {}
    for o in art["per_op"]:
        t = per_op.get(o["i"], {})
        c = {"jobs": t.get("jobs", 0.0)}
        if o["group"] == "write":
            c.update(files_added=t.get("files_added"), data_bytes_added=t.get("data_bytes_added"),
                     rows_changed=o.get("rows_changed"))
        out[o["i"]] = c
    return out


def compare_repeats(arts):
    """Mismatches between runs of one seed, over the ops they share."""
    bad = []
    base = exact_counts(arts[0])
    for n, art in enumerate(arts[1:], 1):
        other = exact_counts(art)
        for i in sorted(set(base) & set(other)):
            if base[i] != other[i]:
                bad.append("op %d: run 0 %r, run %d %r" % (i, base[i], n, other[i]))
        if len(art["per_op"]) == len(arts[0]["per_op"]):
            for m in ("write_bytes_per_row", "space_amp"):
                a, b = arts[0]["data_files_only"][m], art["data_files_only"][m]
                if a != b:
                    bad.append("%s (data files): run 0 %r, run %d %r" % (m, a, n, b))
    return bad


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    report, ok = {}, True
    for w in [w["name"] for w in bench["workloads"]]:
        values = {m: [] for m in bounds}
        traced = {m: [] for m in bounds}
        untraced_of = {m: [] for m in bounds}
        rep = {"runs": [], "metrics": {}, "repeat_mismatches": []}
        for s in SEEDS:
            code, line, art, err = run(w, s, bench["run_seconds"], 0)
            rep["runs"].append({"seed": s, "trace": 0, "exit": code, "line": line})
            print("%s seed %d: %s" % (w, s, json.dumps(line)), flush=True)
            if code != 0 or not line or not line["correct"]:
                ok = False
                print(err, file=sys.stderr)
                continue
            for m in bounds:
                values[m].append(line["metrics"][m]["value"])
        for m, b in bounds.items():
            if len(values[m]) < 2:
                continue
            med, sp = spread(values[m])
            held = sp <= b["bound"]
            ok = ok and held
            rep["metrics"][m] = {"median": med, "spread": sp, "bound": b["bound"], "values": values[m],
                                 "within_bound": held, "within_third": sp <= b["bound"] / 3}
            print("  %-12s median %12.4f  spread %.3f  bound %.2f%s" % (
                m, med, sp, b["bound"], "" if held else "  OVER"), flush=True)

        arts = []
        for s in [SEEDS[0]] * REPEATS + SEEDS[1:2]:
            code, line, art, err = run(w, s, bench["run_seconds"], 1)
            rep["runs"].append({"seed": s, "trace": 1, "exit": code})
            if code != 0 or art is None:
                ok = False
                print(err, file=sys.stderr)
                continue
            arts.append(art)
        repeats = [a for a in arts if a["seed"] == SEEDS[0]]
        if len(repeats) == REPEATS:
            rep["repeat_mismatches"] = compare_repeats(repeats)
            for why in rep["repeat_mismatches"][:10]:
                print("  exact count did not repeat: " + why, flush=True)
            ok = ok and not rep["repeat_mismatches"]
        traced_seeds = sorted({a["seed"] for a in arts})
        for a in arts:
            for m in bounds:
                traced[m].append(a["end_to_end"][m]["value"])
        for r in rep["runs"]:
            if r["trace"] == 0 and r["seed"] in traced_seeds and r["line"]:
                for m in bounds:
                    untraced_of[m].append(r["line"]["metrics"][m]["value"])
        rep["tracing_overhead"] = {
            m: statistics.median(traced[m]) - statistics.median(untraced_of[m])
            for m in bounds if traced[m] and untraced_of[m]}
        print("  tracing overhead: %s" % json.dumps(
            {m: round(v, 4) for m, v in rep["tracing_overhead"].items()}), flush=True)
        report[w] = rep
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "steady.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("steady: %s" % ("ok" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
