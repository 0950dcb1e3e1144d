#!/usr/bin/env python3
"""Steadiness check: run the benchmark on one workload with several seeds
and report, per end-to-end metric, the median and the spread (distance
between the first and third quartile over the median) next to its bound.

    python3 perfbench/spread.py --workload sql --seeds 1-10 [--seconds 15]

Other arguments are passed on to run.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--seconds", type=int)
    args, extra = ap.parse_known_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    lo, hi = map(int, args.seeds.split("-"))
    seconds = args.seconds or spec["run_seconds"]
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(lo, hi + 1):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0", *extra], cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
        r = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={r['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
            flush=True)
        for k, v in r["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        spread = (q[2] - q[0]) / med
        print(f"{m['name']:>14}: median {med:.4g} {m['unit']}, spread "
              f"{spread:.3f} (bound {m['bound']}, target < {m['bound'] / 3:.3f})")


if __name__ == "__main__":
    main()
