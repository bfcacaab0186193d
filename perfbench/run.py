#!/usr/bin/env python3
"""Run one benchmark workload once and print its result as one JSON line.

    python3 perfbench/run.py --workload catalog-mix --seed 1 --seconds 10 --trace 0

Steps:
  1. build the harness and the program with offline sbt, once per
     checkout (the classpath is cached under perfbench/.out/);
  2. one JVM launch that only sets up, timed (it also fills the page
     cache for the next);
  3. the measured launch: set-up, a cold pass, then warm passes until
     --seconds have been measured;
  4. the output checks (DuckDB), untimed;
  5. the result line: with --trace 0 the end-to-end metrics, with
     --trace 1 the per-layer metrics.

Every JVM gets its own java.io.tmpdir and spark.local.dir under
perfbench/.out/run-*, deleted at the end, so no artifact or checkpoint
outlives its run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import check

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
DATA = os.path.join(HERE, "data", "sf0.1")
SOURCES = [os.path.join(REPO, "src", "main", "scala"),
           os.path.join(HERE, "src", "main", "scala")]
WORKLOADS = ["catalog-mix", "builder-backfill"]
JVM_FLAGS = ["-Xms2g", "-Xmx6g", "-XX:+UseG1GC", "-Dlog4j2.level=error"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
SETUP_SAMPLES = 1  # set-up-only launches; the measured launch adds one
DEADLINE_S = 170  # every JVM of a run ends within this; the build is apart


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def source_stamp():
    h = hashlib.sha256()
    for extra in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, extra), "rb") as f:
            h.update(f.read())
    for root in SOURCES:
        for d, _, files in sorted(os.walk(root)):
            for n in sorted(files):
                p = os.path.join(d, n)
                h.update(os.path.relpath(p, REPO).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def data_stamp():
    """Names the cached oracle answers after the input tables."""
    h = hashlib.sha256()
    for n in sorted(os.listdir(DATA)):
        h.update(f"{n}:{os.path.getsize(os.path.join(DATA, n))};".encode())
    return h.hexdigest()[:16]


def classpath():
    """The harness classpath, compiled by offline sbt when the sources
    changed since the cached build."""
    stamp_file = os.path.join(OUT, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]))
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as f:
        code = launch(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "export Runtime/fullClasspath"],
                      cwd=HERE, env=env, stdout=f, timeout=800)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if code != 0 or not lines or ".out" not in lines[-1]:
        fail(f"build failed, see {log}")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


def launch(cmd, timeout, **kw):
    """Runs a child in its own process group; on timeout the whole group
    is killed and waited for."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout:.0f} s")


def jvm(cp, run_dir, mode, args, deadline):
    """One benchmark JVM with its own tmpdir and spark.local.dir, both
    deleted afterwards; returns the JSON it wrote."""
    tag = f"{mode}-{len(os.listdir(run_dir))}"
    tmp, local = (os.path.join(run_dir, tag, d) for d in ("tmp", "local"))
    os.makedirs(tmp)
    os.makedirs(local)
    out = os.path.join(run_dir, tag)
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                   "perfbench.Main", "--mode", mode,
                                   "--out", out, "--local", local,
                                   "--data", DATA, "--cores", str(cores())]
           + args)
    with open(os.path.join(run_dir, f"{tag}.log"), "w") as log:
        code = launch(cmd, deadline - time.time(), stdout=log, stderr=log,
                      cwd=run_dir)
    if code != 0:
        fail(f"{mode} JVM exited with {code}, see {run_dir}/{tag}.log")
    with open(os.path.join(out, f"{mode}.json")) as f:
        res = json.load(f)
    shutil.rmtree(tmp)
    shutil.rmtree(local)
    return res, out


# Per-layer metrics of a traced run, with their units. Warm-pass values
# are the median over the warm passes; cold-pass values come from the
# first pass only.
LAYERS = {
    "setup.session_s": "s", "setup.inputs_s": "s",
    "queries.fn_s": "s", "queries.action_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.core_busy": "ratio",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.jobs_concurrent_max": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "codegen.compile_s": "s", "jvm.jit_s": "s",
    "artifact.builds": "count", "artifact.builds_warm": "count",
    "artifact.mb": "MB", "scratch.growth_mb": "MB",
    "streaming.batches": "count", "streaming.rows_in": "count",
    "streaming.trigger_s": "s", "streaming.addbatch_s": "s",
    "streaming.overhead_s": "s",
    "pipeline.jobs_ran": "count", "pipeline.jobs_skipped": "count",
    "pipeline.expand_s": "s", "pipeline.noop_run_s": "s",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "traced.cold_s": "s", "traced.warm_s": "s",
}
COLD_ONLY = {"codegen.compile_s", "jvm.jit_s", "artifact.builds", "artifact.mb"}


def layer_metrics(res):
    passes = res["layers"]
    cold = passes["cold"]
    warm = [v for k, v in passes.items() if k.startswith("warm")]
    med = lambda f: statistics.median(f(w) for w in warm)
    m = {k: med(lambda w, k=k: w.get(k, 0.0)) for k in LAYERS}
    m.update({k: cold[k] for k in COLD_ONLY})
    m.update({
        "setup.session_s": res["setup.session_s"],
        "setup.inputs_s": res["setup.inputs_s"],
        "spark.core_busy": med(lambda w: w["spark.task_run_s"] /
                               (w["wall_s"] * cores())),
        "spark.jobs_concurrent_max": max(w["spark.jobs_concurrent_max"]
                                         for w in warm),
        "artifact.builds_warm": sum(w["artifact.builds"] for w in warm),
        "scratch.growth_mb": med(lambda w: w["scratch.mb"]),
        "streaming.overhead_s": med(lambda w: w["streaming.trigger_s"] -
                                    w["streaming.addbatch_s"]),
        "pipeline.noop_run_s": res.get("pipeline.noop_run_s", 0.0),
        "jvm.heap_peak_mb": max(p["jvm.heap_peak_mb"] for p in passes.values()),
        "traced.cold_s": res["cold_s"],
        "traced.warm_s": statistics.median(res["warm_passes_s"]),
    })
    return {k: {"value": m[k], "unit": u} for k, u in LAYERS.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", metavar="DIR",
                    help="move the run directory (outputs, logs) to DIR")
    a = ap.parse_args()
    start = time.time()
    if not os.path.exists(os.path.join(REPO, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"program sources not found under {REPO}/src")
    if not os.path.isdir(DATA):
        fail(f"input tables not found at {DATA}")

    cp = classpath()
    deadline = time.time() + DEADLINE_S
    run_dir = os.path.join(OUT, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    records = os.path.join(OUT, "records")
    os.makedirs(records, exist_ok=True)
    try:
        common = ["--workload", a.workload, "--seed", str(a.seed)]
        # the set-up-only launch also fills the page cache for the
        # measured one
        t0 = time.time()
        setups = [jvm(cp, run_dir, "setup", common, deadline)[0]
                  for _ in range(SETUP_SAMPLES)]
        t1 = time.time()
        rec = os.path.join(records, f"{a.workload}-seed{a.seed}"
                           f"-trace{a.trace}.jsonl")
        if os.path.exists(rec):
            os.remove(rec)
        run_args = common + ["--seconds", str(a.seconds),
                             "--trace", str(a.trace), "--records", rec]
        res, out = jvm(cp, run_dir, "run", run_args, deadline)
        t2 = time.time()
        problems = check.outputs(a.workload, res, out, DATA,
                                 os.path.join(OUT, "oracle", data_stamp()))
        t3 = time.time()
    finally:
        if a.keep:
            shutil.rmtree(a.keep, ignore_errors=True)
            shutil.move(run_dir, a.keep)
        else:
            shutil.rmtree(run_dir, ignore_errors=True)

    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    setup_s = statistics.median([s["setup_s"] for s in setups] + [res["setup_s"]])
    warm = res["warm_passes_s"]
    print(f"perfbench: {a.workload} seed {a.seed}: setup {setup_s:.3f} s, "
          f"cold {res['cold_s']:.3f} s, warm passes "
          f"{', '.join(f'{w:.3f}' for w in warm)} s, "
          f"wall {time.time() - start:.1f} s (set-up launches {t1 - t0:.1f}, "
          f"run launch {t2 - t1:.1f}, checks {t3 - t2:.1f})", file=sys.stderr)
    if a.trace:
        metrics = layer_metrics(res)
    else:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"},
                   "cold_s": {"value": res["cold_s"], "unit": "s"},
                   "warm_s": {"value": statistics.median(warm), "unit": "s"}}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
