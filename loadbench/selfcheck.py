#!/usr/bin/env python3
"""Fast self-check of the benchmark harness.

    python3 loadbench/selfcheck.py

Runs every workload at toy size (`run.py --toy --seconds 1`), untraced and
traced, and fails unless each run passes its correctness checks, reports no
failed operation, and prints exactly the metric names BENCHMARK.json lists.
"""
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = 0
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            p = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"), "--toy",
                                "--workload", w, "--seed", "1", "--seconds", "1",
                                "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
            want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
            problems = []
            if p.returncode != 0:
                problems.append(f"exit {p.returncode}: {p.stderr[-1500:]}")
            else:
                line = json.loads(p.stdout.strip().splitlines()[-1])
                if set(line) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"result keys {sorted(line)}")
                if not line["correct"] or line["failed"] != 0 or line["attempted"] < 1:
                    problems.append(f"correct={line['correct']} failed={line['failed']}: "
                                    f"{p.stderr[-1500:]}")
                if set(line["metrics"]) != want:
                    problems.append(f"metrics differ: {sorted(set(line['metrics']) ^ want)}")
            bad += bool(problems)
            print(f"{w} trace={trace}: {'ok' if not problems else 'FAIL ' + '; '.join(problems)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
