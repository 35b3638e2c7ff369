#!/usr/bin/env python3
"""Runs one benchmark workload against the engine and prints its metrics.

    python3 perfbench/run.py --workload olap_scan --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The first run builds the engine and the
driver with sbt into the checkout; later runs reuse the build while the
sources are unchanged. Each run generates its tables from the seed, sets up
in one JVM (session start, fixture build, attach, warm-up on the workload's
own ops), then runs its ops in a closed loop with one client for
`--seconds`, and last checks every answer against DuckDB outside the timed
window. The last line of standard output is one JSON
object: `correct`, `attempted`, `failed` and `metrics` — the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. The full
artifact, with the environment, every metric's sample count and the spans of
a traced run, goes to `.bench_build/perfbench/artifacts/`.

Exits 0 when every answer is right, 1 when an op failed or an answer or a
durability check did not match, 2 when it cannot run at all.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import workloads  # noqa: E402

HEAP = "3g"
CORES = max(1, min(4, os.cpu_count() or 1))
ARCHIVE_TRAINING = ("olap_scan", "stream_upsert")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# ops generated per run; more than any run completes in its window
PLANNED_OPS = {"olap_scan": 600, "stream_upsert": 400}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_digest(root):
    """Digest of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/driver/build.sbt",
            "perfbench/driver/project", "perfbench/driver/src"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(path)
            for f in fs if "target" not in os.path.relpath(d, path).split(os.sep))
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(f, root).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Packages the engine and the driver and trains the class archive.
    Returns (classpath, source digest, archive path)."""
    digest = source_digest(root)
    cp_file = os.path.join(out, "classpath.txt")
    archive = os.path.join(out, "classes.jsa")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest and os.path.exists(archive):
            return cp.strip(), digest, archive
    for stale in (cp_file, archive):
        if os.path.exists(stale):
            os.remove(stale)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(out, "build.log")
    with open(log_path, "w") as log:
        try:
            subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
                            "export Runtime/fullClasspathAsJars"],
                           cwd=os.path.join(root, "perfbench", "driver"), env=env,
                           stdout=log, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S, check=True)
        except (subprocess.SubprocessError, OSError) as e:
            fail("build failed (%s); see %s" % (e, log_path))
    with open(log_path) as f:
        lines = [ln.strip() for ln in f if ".jar" in ln and not ln.startswith("[")]
    if not lines:
        fail("build printed no classpath; see " + log_path)
    cp = lines[-1]
    archive = train_archive(cp, out)
    with open(cp_file, "w") as f:
        f.write(digest + "\n" + cp)
    return cp, digest, archive


def prepare(name, seed, seconds, trace, runs):
    """Generates a run's tables and plan; returns (workload, plan path, run dir)."""
    wl = workloads.WORKLOADS[name](seed, None)
    run_dir = os.path.join(runs, "%s-s%d-t%d-%d" % (name, seed, trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    wl.data = os.path.join(run_dir, "data")
    wl.generate_data()
    plan = wl.plan(PLANNED_OPS[name], run_dir)
    plan.update({"workload": name, "seed": seed, "cores": CORES, "trace": bool(trace),
                 "seconds": seconds, "work": os.path.join(run_dir, "work"), "cycle": wl.cycle})
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    return wl, plan_path, run_dir


def train_archive(cp, out):
    """Records the classes a short run of each workload loads into a JVM class
    data archive, which later runs map instead of loading the classes again:
    a cold JVM's Spark session otherwise starts several times slower. Without
    the archive `setup_s` would measure another start-up, so a failed
    training fails the build. Returns the archive's path."""
    archive = os.path.join(out, "classes.jsa")
    runs = os.path.join(out, "train")
    shutil.rmtree(runs, ignore_errors=True)
    args = []
    for name in ARCHIVE_TRAINING:
        _, plan_path, run_dir = prepare(name, 0, 1, 1, runs)
        args += [plan_path, os.path.join(run_dir, "result.json")]
    result, log_path = run_driver(cp, args[0], args[1], runs, time.time() + BUILD_LIMIT_S,
                                  None, ["-XX:ArchiveClassesAtExit=" + archive], args[2:])
    if result is None or not os.path.exists(archive):
        fail("training the class archive failed; see " + log_path)
    shutil.rmtree(runs, ignore_errors=True)
    return archive


def run_driver(cp, plan_path, result_path, run_dir, deadline, archive, jvm=(), more=()):
    """Runs the driver JVM on one plan (and `more` plan/result pairs); returns
    (the first result or None, the JVM's log path)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData", "-Xlog:cds=off",
           "-Xlog:cds+dynamic=off"] + list(jvm)
    if archive:
        cmd.append("-XX:SharedArchiveFile=" + archive)
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-Dderby.system.home=" + tmp,
            "-cp", cp, "perfbench.Driver", plan_path, result_path] + list(more)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    os.makedirs(run_dir, exist_ok=True)
    log_path = os.path.join(run_dir, "driver.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir,
                                  timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None, log_path
    if proc.returncode != 0 or not os.path.exists(result_path):
        return None, log_path
    with open(result_path) as f:
        return json.load(f), log_path


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout: no engine sources (build.sbt, src/main/scala/graft) here")
    out = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(os.path.join(out, "artifacts"), exist_ok=True)
    cp, digest, archive = build(root, out)
    built = time.time()

    wl, plan_path, run_dir = prepare(args.workload, args.seed, args.seconds, args.trace,
                                     os.path.join(out, "runs"))
    # the answer checks after the driver need a few seconds of the limit
    result, log_path = run_driver(cp, plan_path, os.path.join(run_dir, "result.json"), run_dir,
                                  built + RUN_LIMIT_S - 20, archive)
    if result is None:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("the driver did not finish; last of its log:\n" + tail, 1)

    with open(plan_path) as f:
        plan = json.load(f)
    report = layers.Report(wl, plan, result, CORES)
    report.check_answers()
    artifact = report.artifact(args, {
        "nproc": os.cpu_count(), "cores": CORES,
        "spark_master": result["env"]["spark_master"],
        "heap": HEAP, "heap_max_mb": result["env"]["heap_max_mb"], "seed": args.seed,
        "git_commit": git_commit(root), "source_digest": digest,
        "spark_version": result["env"]["spark_version"], "jvm": result["env"]["jvm"],
        "op_tail_ms_percentile": wl.tail_pct, "run_seconds": args.seconds,
        "build_s": built - start, "wall_s": time.time() - start})
    name = "%s-seed%d-trace%d" % (wl.name, args.seed, args.trace)
    if args.trace:
        with open(os.path.join(out, "artifacts", name + "-spans.json"), "w") as f:
            json.dump(result.get("spans", []), f)
    with open(os.path.join(out, "artifacts", name + ".json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)

    for why in artifact["failures"][:20]:
        print("perfbench: " + why, file=sys.stderr)
    metrics = artifact["per_layer"] if args.trace else artifact["end_to_end"]
    print(json.dumps({"correct": artifact["correct"], "attempted": artifact["attempted"],
                      "failed": artifact["failed"],
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}}))
    sys.exit(0 if artifact["correct"] else 1)


if __name__ == "__main__":
    main()
