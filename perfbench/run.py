#!/usr/bin/env python3
"""Benchmark of the dedupespark flagship pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload flagship_dup --seed 1 --seconds 10 --trace 0

Workloads (input rows default to 6,000; --rows overrides):
  flagship_dup     the ImageGen corpus with its default mix of originals and
                   planted duplicates, through Pipeline.run;
  flagship_unique  only ImageGen's original rows, so nothing should merge.

The first run builds the engine and the benchmark code from source with
sbt and caches the build under .bench_build/, keyed by a digest of the
sources. Each run is one JVM, local[nproc], one job at a time: a warm-up
pass, then timed passes, each after a fresh SparkSession and a
regenerated input (see src/main/scala/perfbench/Main.scala). The heap is
half of RAM, between 2 and 8 GiB. A run with --rows has no time limit.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones;
BENCHMARK.json names both sets. Stdout carries one report line (the run
envelope and every raw sample, also saved under .bench_build/results/)
and, last, the result line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = {"flagship_dup": 6000, "flagship_unique": 6000}
RUN_LIMIT_S = 170  # a run at the default size must end within 180 s

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile with sbt unless the cached build matches the sources."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as c:
                    return c.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        fail(f"build failed (rc={rc}); see {os.path.join(BUILD, 'build.log')}", 3)
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as c:
        return c.read()


def heap_gib():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def metrics_of(data, launch_s, rows):
    """Every metric this run can give, by name."""
    its = data["iterations"]
    plain = [it for it in its if not it["traced"] and "wall_s" in it]
    traced = [it for it in its if it["traced"] and "layers" in it]
    m = {}
    if plain:
        wall = median([it["wall_s"] for it in plain])
        m["setup_s"] = median(data["setups_s"])
        m["warmup_s"] = data["warmup_end_epoch_ms"] / 1000.0 - launch_s
        m["wall_s"] = wall
        m["images_per_sec"] = rows / wall
        m["cpu_s"] = median([it["cpu_s"] for it in plain])
        m["peak_rss_mb"] = data["peak_rss_mb"]
        m["dup_pair_recall"] = plain[0]["recall"]
        m["dup_pair_precision"] = plain[0]["precision"]
    if traced:
        for name in traced[0]["layers"]:
            m[name] = median([it["layers"][name] for it in traced])
        if plain:
            m["trace.overhead_s"] = (median([it["stage_sum_s"] for it in traced])
                                     - median([it["wall_s"] for it in plain]))
    return m


def failures(its):
    """Iterations that threw, broke an output invariant, or disagreed with
    the first clean iteration of the same kind (traced or not) on the same
    input. Traced passes persist every stage, which changes physical plans,
    so they are compared among themselves."""
    keys = ("recall", "precision", "clusters", "gold_pairs", "predicted_pairs")
    bad = 0
    for traced in (False, True):
        group = [it for it in its if it["traced"] == traced]
        ref = next((it for it in group if not it.get("errors")), None)
        for it in group:
            if it.get("errors") or any(it.get(k) != ref.get(k) for k in keys):
                bad += 1
    return bad


def main():
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, help="input rows (default per workload)")
    a = ap.parse_args()
    rows = a.rows or WORKLOADS[a.workload]

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    digest = source_digest()
    classpath = build(digest)
    after_build = time.time()

    nproc = len(os.sched_getaffinity(0))
    heap = heap_gib()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    out = os.path.join(work, "samples.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open("/proc/loadavg") as f:
        load_at_start = float(f.read().split()[0])
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap}g", f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--rows", str(rows), "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(nproc), "--work-dir", work, "--out", out])
    log_path = os.path.join(BUILD, "results", f"{tag}.log")
    # a SIGTERM exits through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    launch = time.time()
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=None if a.rows else RUN_LIMIT_S - (launch - after_build))
            except subprocess.TimeoutExpired:
                fail(f"pass JVM timed out; see {log_path}", 4)
        if rc != 0 or not os.path.exists(out):
            fail(f"pass JVM failed (rc={rc}); see {log_path}", 5)
        with open(out) as f:
            data = json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    have = metrics_of(data, launch, rows)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [w["name"] for w in wanted if w["name"] not in have]
    if missing:
        fail(f"metrics not measured: {missing}", 6)
    if not all(math.isfinite(have[w["name"]]) for w in wanted):
        fail("a metric is not a finite number", 6)
    metrics = {w["name"]: {"value": have[w["name"]], "unit": w["unit"]} for w in wanted}
    its = data.pop("iterations")
    failed = failures(its)
    report = dict(data, workload=a.workload, seed=a.seed, trace=a.trace, nproc=nproc,
                  heap_gib=heap, load_avg_at_start=load_at_start,
                  steal_fraction=statistics.fmean([it.get("steal", 0.0) for it in its]),
                  git_commit=git_commit(), source_digest=digest,
                  ops_failed=failed, ops_attempted=len(its),
                  build_s=after_build - started, run_s=time.time() - started,
                  all_metrics=have, iterations=its)
    with open(os.path.join(BUILD, "results", f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": len(its), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
