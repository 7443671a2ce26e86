#!/usr/bin/env python3
"""Runs one workload N times, each with its own seed, and prints every
metric's median, quartiles, quartile spread as a share of the median,
and max/min ratio, next to the bound BENCHMARK.json fixes for it.

Usage: python3 benchmark/steadiness.py --workload W [--runs 10]
           [--first-seed 1] [--seconds S] [--trace 0|1] [--out FILE]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", help="also write every run's result line here (JSON)")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    results, walls = [], []
    for i in range(args.runs):
        seed = args.first_seed + i
        t = time.monotonic()
        p = subprocess.run(spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                              "--seconds", str(seconds),
                                              "--trace", str(args.trace)],
                           cwd=ROOT, capture_output=True, text=True)
        walls.append(time.monotonic() - t)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr[-3000:])
            raise SystemExit(f"run with seed {seed} failed ({p.returncode})")
        res = json.loads(lines[-1])
        res["seed"], res["wall_s"] = seed, walls[-1]
        with open(os.path.join(ROOT, ".bench_out", f"{args.workload}.json")) as f:
            res["summary"] = json.load(f)
        results.append(res)
        print(f"seed {seed}: {walls[-1]:.1f} s, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)

    print(f"\n{args.workload}: {len(results)} runs, run wall median "
          f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} "
          f"{'max/min':>8} {'bound':>6}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        lo = min(vals)
        ratio = max(vals) / lo if lo else float("nan")
        bound = bounds.get(name)
        flag = ""
        if bound is not None and spread == spread:
            flag = " OVER" if spread > bound else (" >1/3" if spread > bound / 3 else "")
        print(f"{name:32} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} {ratio:8.3f} "
              f"{bound if bound is not None else '':>6}{flag}")


if __name__ == "__main__":
    main()
