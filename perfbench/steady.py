#!/usr/bin/env python3
"""Steadiness check for the benchmark.

    python3 perfbench/steady.py spread --workload llm-dedup --seeds 1-10
    python3 perfbench/steady.py counts --workload scan-plan --seed 3

`spread` runs the untraced benchmark once per seed and prints, for every
end-to-end metric, the median and the distance between the first and third
quartiles as a share of the median, next to the metric's bound from
BENCHMARK.json. It fails when a spread (setup_s aside) reaches its bound.

`counts` runs the traced benchmark twice on one seed and fails unless the
counts that a seed fixes repeat exactly: files kept, rows read, jobs, tasks
and data bytes written.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

EXACT = ("iceberg.files_total", "iceberg.files_kept", "exec.rows_read", "exec.jobs",
         "exec.tasks", "writer.data_files_added", "writer.data_mb")


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"steady: {' '.join(cmd)} exited with {out.returncode}")
    res = json.loads(lines[-1])
    print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
          file=sys.stderr)
    if not res["correct"]:
        raise SystemExit(f"steady: seed {seed} failed its output checks")
    return {k: v["value"] for k, v in res["metrics"].items()}


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("spread", "counts"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = bench["run_seconds"]

    if a.mode == "counts":
        first, second = (run(a.workload, a.seed, seconds, 1) for _ in range(2))
        bad = [k for k in EXACT if first[k] != second[k]]
        for k in EXACT:
            print(f"{k:28s} {first[k]:>14} {second[k]:>14}{'  DIFFERS' if k in bad else ''}")
        return 1 if bad else 0

    runs = [run(a.workload, s, seconds, 0) for s in seeds_of(a.seeds)]
    failed = False
    for m in bench["end_to_end"]:
        vals = [r[m["name"]] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        over = m["name"] != "setup_s" and spread >= m["bound"]
        failed |= over
        print(f"{a.workload:14s} {m['name']:22s} median {med:12.4f} {m['unit']:6s} "
              f"spread {spread:7.4f} bound {m['bound']:.2f}{'  OVER' if over else ''}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
