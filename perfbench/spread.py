#!/usr/bin/env python3
"""Steadiness and tracing overhead of the benchmark.

    python3 perfbench/spread.py --workloads dag_etl,ml_retrain --seeds 1-10

Runs run.py once per workload and seed with --trace 0, then once per
workload with --trace 1 on the first seed. Prints, per workload and
end-to-end metric, the median and the spread (distance between the first
and third quartile as a share of the median), and the tracing overhead:
traced pass_s minus the median untraced pass_s.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def once(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=os.path.dirname(BENCH))
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.exit(f"run failed: {workload} seed {seed}\n{r.stderr[-2000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="dag_etl,ml_retrain")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=30)
    a = ap.parse_args()
    lo, hi = map(int, a.seeds.split("-"))
    for w in a.workloads.split(","):
        values = {}
        for seed in range(lo, hi + 1):
            summary, result = once(w, seed, a.seconds, 0)
            print(json.dumps(summary), flush=True)
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        for name, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            print(f"{w} {name}: median {med:.4f} spread {(q3 - q1) / med:.4f} "
                  f"values {[round(v, 3) for v in vs]}", flush=True)
        summary, _ = once(w, lo, a.seconds, 1)
        print(f"{w} tracing overhead: {summary['pass_s'] - statistics.median(values['pass_s']):.3f} s "
              f"(traced pass_s {summary['pass_s']:.3f})", flush=True)


if __name__ == "__main__":
    main()
