"""Turns one driver result into the benchmark's metrics.

End-to-end metrics come from the op wall times of the timed window. Per-layer
metrics come from a traced run: the driver's per-op counters (Spark listener
events, query-execution phases and scan metrics, stream progress) and its
spans, from which this module computes each layer's self time. Layers are
named after the engine's modules: `sqlapi`, `catalog`, `sources`, `plans`,
`engine` (Spark itself, as driven by the engine) and `streaming`.
"""

import collections

import duckdb

import workloads

STREAM_PHASES = (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                 ("query_planning_ms", "queryPlanning"), ("latest_offset_ms", "latestOffset"),
                 ("get_batch_ms", "getBatch"), ("wal_commit_ms", "walCommit"),
                 ("commit_offsets_ms", "commitOffsets"))
STRATEGIES = ("stream_delta", "stream_iceberg")


def _both(*names):
    return tuple(n + s for n in names for s in (".p50", ".total"))


# The per-layer metrics a traced run prints, in BENCHMARK.json's order.
PRINTED = (
    ("read_p50_ms", "write_p50_ms", "write_bytes_per_row", "space_amp", "failed_frac")
    + _both("sqlapi.rewrite_us", "sqlapi.call_ms.read")
    + ("catalog.attach_ms.parquet.p50", "catalog.attach_ms.delta.p50", "catalog.attach_ms.iceberg.p50",
       "catalog.write_ms.stream_delta.p50", "catalog.write_ms.stream_iceberg.p50")
    + _both("catalog.jobs_per_write", "catalog.driver_ms_per_write", "catalog.files_added_per_write",
            "catalog.bytes_added_per_write")
    + ("catalog.table_files", "catalog.log_bytes", "sources.files_read_ratio",
       "sources.rows_scanned_per_row_out")
    + _both("sources.bytes_read", "sources.scan_metadata_ms")
    + ("plans.metadata_agg_hit_ratio",)
    + _both("engine.analysis_ms", "engine.optimization_ms", "engine.planning_ms", "engine.jobs_per_op",
            "engine.tasks_per_op", "engine.driver_gap_ms", "engine.job_ms", "engine.task_run_ms",
            "engine.task_cpu_ms")
    + ("engine.core_busy_frac",)
    + _both("engine.shuffle_bytes", "engine.spill_bytes", "engine.gc_ms")
    + ("engine.heap_peak_mb",)
    + _both(*("streaming." + n for n, _ in STREAM_PHASES))
    + _both("streaming.overhead_ms", "streaming.jobs_per_batch")
)


def percentile(values, p):
    """Linear-interpolated percentile, `p` in 0..100; 0.0 for no samples."""
    if not values:
        return 0.0
    v = sorted(values)
    x = (len(v) - 1) * p / 100.0
    lo = int(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def union_ms(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def self_times(spans):
    """Per span name: summed self time, its span's duration minus the part of
    its interval that its children cover."""
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    out = collections.defaultdict(float)
    for s in spans:
        out[s["name"]] += (s["end_ms"] - s["start_ms"]) - union_ms(
            children.get(s["id"], []), s["start_ms"], s["end_ms"])
    return dict(out)


class Report:
    def __init__(self, wl, plan, result, cores):
        self.wl, self.plan, self.result, self.cores = wl, plan, result, cores
        self.ops = result["ops"]
        self.bad, self.durability, self.rows_changed = {}, {}, {}

    def check_answers(self):
        con = duckdb.connect()
        con.execute("SET threads = 2")
        self.wl.duck_views(con)
        self.bad = self.wl.check(con, self.plan, self.result)
        self.rows_changed = getattr(self.wl, "rows_changed", {})
        for d in self.result["reattached"]:
            why = workloads.table_diff(con, d["dump"], self.wl.expected_table(d["name"]))
            if why:
                self.durability[d["name"]] = why
        con.close()

    # -------------------------------------------------------------- metrics

    def _group_ms(self, group):
        return [r["ms"] for r in self.ops if r["group"] == group and "err" not in r]

    def end_to_end(self):
        ms = [r["ms"] for r in self.ops]
        n = len(ms)
        return {
            "setup_s": (self.result["setup_s"], "s", 1),
            "ops_per_s": (n / self.result["window_s"], "1/s", n),
            "op_p50_ms": (percentile(ms, 50), "ms", n),
            "op_tail_ms": (percentile(ms, self.wl.tail_pct), "ms", n),
        }

    def by_kind(self):
        """The op-kind metrics: they exist only where the op kind does, so
        they are unbounded and reported with the per-layer metrics."""
        out = {}
        for g in ("read", "write"):
            v = self._group_ms(g)
            out["%s_p50_ms" % g] = (percentile(v, 50), "ms", len(v))
        changed = sum(self.rows_changed.values())
        per_row, amp = self.bytes_per_row_and_amp(lambda t: t["bytes"], "bytes_start", "fresh_bytes")
        out["write_bytes_per_row"] = (per_row, "B/row", changed)
        out["space_amp"] = (amp, "ratio", len(self.result["reattached"]))
        out["failed_frac"] = (self.failed() / max(1, len(self.ops)), "ratio", len(self.ops))
        return out

    def bytes_per_row_and_amp(self, size, start_key, fresh_key):
        """Bytes added per row changed, and bytes at the end over the bytes of
        a fresh copy, with `size` giving a table's bytes at the end."""
        changed = sum(self.rows_changed.values())
        end = sum(size(t) for t in self.result["tables"])
        fresh = sum(d.get(fresh_key, 0) for d in self.result["reattached"])
        return ((end - self.result[start_key]) / changed if changed else 0.0,
                end / fresh if fresh else 0.0)

    def per_layer(self):
        out = dict(self.by_kind())
        ops = [r for r in self.ops if "trace" in r]
        spans = self.result.get("spans", [])
        jobs_of = collections.defaultdict(list)
        for s in spans:
            if s["name"] == "job":
                jobs_of[s["op"]].append((s["start_ms"], s["end_ms"]))

        def t(r, k):
            return r["trace"].get(k, 0.0)

        def stat(name, unit, values):
            out[name + ".p50"] = (percentile(values, 50), unit, len(values))
            out[name + ".total"] = (float(sum(values)), unit, len(values))

        def ratio(name, num, den, samples):
            out[name] = (num / den if den else 0.0, "ratio", samples)

        for r in ops:
            lo = r["t0_ms"]
            r["job_union_ms"] = union_ms(jobs_of[r["i"]], lo, lo + r["ms"])
            r["gap_ms"] = r["ms"] - r["job_union_ms"]

        stat("sqlapi.rewrite_us", "us", [r["rewrite_us"] for r in ops if "rewrite_us" in r])
        stat("sqlapi.call_ms.read", "ms", [r["call_ms"] for r in ops if r["group"] == "read" and "call_ms" in r])

        attaches = self.result["setup_attaches"] + self.result["attaches"]
        for f in ("parquet", "delta", "iceberg"):
            v = [a["ms"] for a in attaches if a["format"] == f]
            out["catalog.attach_ms.%s.p50" % f] = (percentile(v, 50), "ms", len(v))

        writes = [r for r in ops if r["group"] == "write"]
        for s in STRATEGIES:
            v = [r["ms"] for r in writes if self.plan["ops"][r["i"]].get("strategy") == s]
            out["catalog.write_ms.%s.p50" % s] = (percentile(v, 50), "ms", len(v))
        stat("catalog.jobs_per_write", "count", [t(r, "jobs") for r in writes])
        stat("catalog.driver_ms_per_write", "ms", [r["gap_ms"] for r in writes])
        stat("catalog.files_added_per_write", "count", [t(r, "files_added") for r in writes])
        stat("catalog.bytes_added_per_write", "B", [t(r, "bytes_added") for r in writes])
        tables = self.result["tables"]
        out["catalog.table_files"] = (float(sum(x["files"] for x in tables)), "count", len(tables))
        out["catalog.log_bytes"] = (float(sum(x["log_bytes"] for x in tables)), "B", len(tables))

        scanned = [r for r in ops if t(r, "scans")]
        ratio("sources.files_read_ratio", sum(t(r, "files_read") for r in scanned),
              sum(t(r, "files_total") for r in scanned), len(scanned))
        ratio("sources.rows_scanned_per_row_out", sum(t(r, "rows_scanned") for r in scanned),
              sum(max(1, r["nrows"]) for r in scanned), len(scanned))
        stat("sources.bytes_read", "B", [t(r, "bytes_read") for r in scanned])
        stat("sources.scan_metadata_ms", "ms", [t(r, "scan_metadata_ms") for r in scanned])
        agg = [r for r in ops if r["kind"] == "metaagg" and "err" not in r]
        ratio("plans.metadata_agg_hit_ratio", sum(1 for r in agg if not t(r, "scans")), len(agg), len(agg))

        for ph in ("analysis", "optimization", "planning"):
            stat("engine.%s_ms" % ph, "ms", [t(r, ph + "_ms") for r in ops])
        stat("engine.jobs_per_op", "count", [t(r, "jobs") for r in ops])
        stat("engine.tasks_per_op", "count", [t(r, "tasks") for r in ops])
        stat("engine.driver_gap_ms", "ms", [r["gap_ms"] for r in ops])
        stat("engine.job_ms", "ms", [r["job_union_ms"] for r in ops])
        stat("engine.task_run_ms", "ms", [t(r, "task_run_ms") for r in ops])
        stat("engine.task_cpu_ms", "ms", [t(r, "task_cpu_ms") for r in ops])
        ratio("engine.core_busy_frac", sum(t(r, "task_run_ms") for r in ops),
              sum(r["job_union_ms"] for r in ops) * self.cores, len(ops))
        stat("engine.shuffle_bytes", "B", [t(r, "shuffle_bytes") for r in ops])
        stat("engine.spill_bytes", "B", [t(r, "spill_bytes") for r in ops])
        stat("engine.gc_ms", "ms", [t(r, "gc_ms") for r in ops])
        out["engine.heap_peak_mb"] = (self.result.get("heap_peak_mb", 0.0), "MB", 1)

        batches = [r for r in ops if r["kind"] == "batch"]
        for name, key in STREAM_PHASES:
            stat("streaming." + name, "ms", [t(r, "stream." + key) for r in batches])
        stat("streaming.overhead_ms", "ms",
             [t(r, "stream.triggerExecution") - t(r, "stream.addBatch") for r in batches])
        stat("streaming.jobs_per_batch", "count", [t(r, "jobs") for r in batches])
        return out

    # ------------------------------------------------------------- artifact

    def failed(self):
        errs = {r["i"] for r in self.ops if "err" in r}
        return len(errs | set(self.bad)) + len(self.durability)

    def failures(self):
        out = []
        for r in self.ops:
            if "err" in r:
                out.append("op %d (%s) failed: %s" % (r["i"], r["kind"], r["err"][:300]))
        for i, why in sorted(self.bad.items()):
            out.append("op %d (%s) answered wrong: %s" % (i, self.plan["ops"][i]["kind"], why[:300]))
        for name, why in sorted(self.durability.items()):
            out.append("table %s re-attached from its files differs: %s" % (name, why))
        return out

    def artifact(self, args, env):
        def fmt(d):
            return {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in d.items()}

        failed = self.failed()
        art = {
            "workload": self.wl.name, "seed": args.seed, "trace": args.trace, "env": env,
            "correct": failed == 0 and len(self.ops) > 0,
            "attempted": len(self.ops), "failed": failed, "failures": self.failures(),
            "end_to_end": fmt(self.end_to_end()), "by_kind": fmt(self.by_kind()),
            "setup_steps_ms": self.result["setup_steps_ms"], "window_s": self.result["window_s"],
            "ops_planned": self.result["ops_planned"],
            "op_tail_ms_samples_beyond": sum(
                1 for r in self.ops if r["ms"] > percentile([o["ms"] for o in self.ops], self.wl.tail_pct)),
            "tables": self.result["tables"],
            "per_op": [dict({k: r[k] for k in ("i", "kind", "group", "ms", "nrows") if k in r},
                            rows_changed=self.rows_changed.get(r["i"])) for r in self.ops],
        }
        if args.trace:
            layers = self.per_layer()
            art["per_layer"] = fmt({k: layers[k] for k in PRINTED})
            # the data-file part of write_bytes_per_row and space_amp: the
            # metadata the table formats write holds run-dependent values
            # (Iceberg snapshot ids, of varying length), the data files do not
            art["data_files_only"] = dict(zip(("write_bytes_per_row", "space_amp"), self.bytes_per_row_and_amp(
                lambda t: t["bytes"] - t["log_bytes"], "data_bytes_start", "fresh_data_bytes")))
            art["self_ms"] = self_times(self.result.get("spans", []))
            art["per_op_trace"] = [dict(r["trace"], i=r["i"]) for r in self.ops if "trace" in r]
        return art
