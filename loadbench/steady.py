#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 loadbench/steady.py --seeds 1-10 [--workloads load-trickle load-bulk]
                                [--out FILE] [--against EARLIER_FILE]

Runs `run.py --trace 0` once per seed and workload, one run at a time, and
reports for every end-to-end metric its median and its spread: the distance
between the first and third quartile (`statistics.quantiles(n=4)`) as a
share of the median. A metric is steady when its spread stays within the
bound BENCHMARK.json gives it (setup_s is judged on its median only).
With `--against`, each median is also compared with an earlier report's: a
set agrees with it when no median is worse by more than the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        return None, wall
    lines = p.stdout.strip().splitlines()
    return (json.loads(lines[-2])["env"], json.loads(lines[-1])), wall


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--out")
    ap.add_argument("--against")
    args = ap.parse_args()
    earlier = None
    if args.against:
        with open(args.against) as f:
            earlier = json.load(f)

    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    ok = True
    for w in args.workloads:
        runs = []
        for s in seeds(args.seeds):
            res, wall = run_once(w, s, spec["run_seconds"])
            if res is None or not res[1]["correct"]:
                print(f"{w} seed {s}: FAILED", file=sys.stderr)
                ok = False
                continue
            env, line = res
            runs.append({"seed": s, "wall_s": round(wall, 1), "load_before": env["load_before"],
                         "metrics": {k: v["value"] for k, v in line["metrics"].items()}})
            print(f"{w} seed {s}: wall {wall:.0f} s", file=sys.stderr)
        summary = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]] for r in runs]
            if len(vals) < 2:
                continue
            med, spr = spread(vals)
            steady = m["name"] == "setup_s" or spr <= m["bound"]
            ok = ok and steady
            summary[m["name"]] = {"median": med, "spread": round(spr, 4), "bound": m["bound"],
                                  "within_third_of_bound": spr <= m["bound"] / 3,
                                  "steady": steady}
            before = earlier and earlier["workloads"].get(w, {}).get("summary", {}).get(m["name"])
            if before:
                sign = 1 if m["better"] == "lower" else -1
                worse = sign * (med - before["median"]) / before["median"]
                agrees = worse <= m["bound"]
                ok = ok and agrees
                summary[m["name"]].update(earlier_median=before["median"],
                                          worse_than_earlier=round(worse, 4),
                                          agrees_with_earlier=agrees)
        report["workloads"][w] = {"summary": summary, "runs": runs}
    text = json.dumps(report, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    for w, r in report["workloads"].items():
        for name, s in r["summary"].items():
            drift = (f" worse than earlier by {s['worse_than_earlier']:+.3f}"
                     if "worse_than_earlier" in s else "")
            print(f"{w:14s} {name:22s} median {s['median']:12.4f} spread {s['spread']:.3f}"
                  f" (bound {s['bound']}){drift}{'' if s['steady'] else '  NOT STEADY'}"
                  f"{'' if s.get('agrees_with_earlier', True) else '  DISAGREES'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
