#!/usr/bin/env python3
"""Per-layer breakdown of every workload, with the tracing overhead.

    python3 loadbench/trace_report.py --seed 1 --out loadbench/TRACE.json

For each workload, runs `run.py` untraced and then traced with the same
seed. The traced run registers a progress listener on the loader's
streaming query and, after the measurement, replays the run's flushed
batches through the loader's layer functions with a span around each call.
The report holds both runs' end-to-end metrics, the tracing overhead
(traced / untraced - 1 for each metric), every per-layer metric, the self
time of each replayed layer and the dominant one, and the spans themselves.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
REPLAYED = ("loader", "ledger", "notify", "pipeline")


def run(workload, seed, seconds, trace, result):
    p = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                        "--result", result], cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} trace={trace} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    with open(result) as f:
        return json.loads(lines[-2])["env"], json.loads(lines[-1]), json.load(f)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    report = {"seed": args.seed, "run_seconds": spec["run_seconds"], "workloads": {}}
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".bench_work_trace") as tmp:
        for w in (x["name"] for x in spec["workloads"]):
            env_u, line_u, full_u = run(w, args.seed, spec["run_seconds"], 0, f"{tmp}/u.json")
            env_t, line_t, full_t = run(w, args.seed, spec["run_seconds"], 1, f"{tmp}/t.json")
            untraced, traced = full_u["metrics"], full_t["metrics"]
            self_ms = {l: full_t["layers"][f"replay.{l}.self_ms"] for l in REPLAYED}
            total = sum(self_ms.values())
            report["workloads"][w] = {
                "correct": line_u["correct"] and line_t["correct"],
                "env_untraced": env_u, "env_traced": env_t,
                "untraced": untraced, "traced": traced,
                "tracing_overhead": {k: traced[k] / untraced[k] - 1
                                     for k in untraced if untraced[k] and k in traced},
                "per_layer": {k: v["value"] for k, v in line_t["metrics"].items()},
                "replay_self_ms": self_ms,
                "replay_self_share": {l: ms / total for l, ms in self_ms.items()},
                "dominant_replayed_layer": max(self_ms, key=self_ms.get),
                "spans": full_t["spans"],
            }
            print(f"{w}: dominant replayed layer {max(self_ms, key=self_ms.get)} "
                  f"({max(self_ms.values()) / total:.0%} of replayed self time)", file=sys.stderr)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
