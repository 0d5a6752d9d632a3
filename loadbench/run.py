#!/usr/bin/env python3
"""Loader benchmark: one workload, one seed, one JSON result line.

    python3 loadbench/run.py --workload load-trickle --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline) into loadbench/target; later runs reuse
the build while no source is newer than it. The harness then runs on plain
`java` over the compiled classes, so nothing prefixes its output.

stdout ends with one line holding exactly `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics of BENCHMARK.json with `--trace 0`,
its per-layer metrics with `--trace 1`. The line before it records the run's
environment. `--toy` runs the workload at toy size (see selfcheck.py);
`--result <file>` also keeps the harness's full result (checks, spans).
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH_DIR, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH_DIR, "target", "loadbench.built")
WORKLOADS = ("load-trickle", "load-bulk")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"loadbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(*roots):
    newest = 0.0
    for root in roots:
        if os.path.isfile(root):
            newest = max(newest, os.path.getmtime(root))
        for d, _, files in os.walk(root):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def build(home):
    sources = newest_mtime(ENGINE_SRC, os.path.join(BENCH_DIR, "src"),
                           os.path.join(BENCH_DIR, "build.sbt"))
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= sources:
        return
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    sbt = shutil.which("sbt") or fail("sbt not found")
    with subprocess.Popen([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                          cwd=BENCH_DIR, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          start_new_session=True) as p:
        try:
            code = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("build timed out")
    if code != 0:
        fail(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as f:
        f.write(f"{time.time()}\n")


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_harness(home, args, work, out):
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{CLASSES}:{home}/jars/*", "loadbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out] + (["--toy"] if args.toy else []))
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log, subprocess.Popen(
            cmd, cwd=work, stdout=log, stderr=log, start_new_session=True) as p:
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail(f"harness failed ({code})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--toy", action="store_true")
    ap.add_argument("--result")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a repository checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    home = spark_home()
    build(home)
    load_before = os.getloadavg()[0]
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        run_harness(home, args, work, out)
        with open(out) as f:
            res = json.load(f)
        if args.result:
            with open(args.result, "w") as f:
                json.dump(res, f, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = res["layers"] if args.trace else res["metrics"]
    correct = bool(res["correct"])
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            correct = False
            print(f"loadbench: metric {m['name']} was not measured", file=sys.stderr)
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for c in res["checks"]:
        if not c["ok"]:
            print(f"loadbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    env = dict(res["env"], nproc=os.cpu_count(), load_before=load_before,
               load_after=os.getloadavg()[0], git_commit=git_commit(),
               workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace)
    print(json.dumps({"env": env}, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
