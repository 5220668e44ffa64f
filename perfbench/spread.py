#!/usr/bin/env python3
"""Run workloads on several seeds and print each metric's spread.

    python3 perfbench/spread.py <workload[,workload...]> <runs> [--sets K]
        [--first-seed N] [--seconds S] [--trace 0|1]

It makes K sets of `runs` runs per workload, interleaved (run i of every
set and workload before run i+1), each run on its own seed. For every
metric and set it prints the median and the distance between the first
and third quartile (statistics.quantiles, n=4) as a share of the median;
for every later set, how much worse its median is than the first set's,
in the metric's direction. Both sit next to the metric's bound from
BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        print(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
        return None
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    print(f"{workload} seed {seed}: correct={result['correct']} "
          f"attempted={result['attempted']} failed={result['failed']} "
          + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
          flush=True)
    return result


def main():
    p = argparse.ArgumentParser()
    p.add_argument("workloads")
    p.add_argument("runs", type=int)
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, default=0)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    workloads = a.workloads.split(",")
    # values[workload][set][metric] = [value per run]
    values = {w: [{} for _ in range(a.sets)] for w in workloads}
    for i in range(a.runs):
        for k in range(a.sets):
            for w in workloads:
                result = run(w, a.first_seed + k * a.runs + i, seconds, a.trace)
                if result is None:
                    continue
                for name, m in result["metrics"].items():
                    values[w][k].setdefault(name, []).append(m["value"])
    for w in workloads:
        print(f"== {w}")
        for name in values[w][0]:
            bound = meta[name].get("bound")
            sign = 1 if meta[name]["better"] == "lower" else -1
            meds, parts = [], []
            for k in range(a.sets):
                xs = values[w][k].get(name, [])
                if len(xs) < 2:
                    continue
                med = statistics.median(xs)
                q = statistics.quantiles(xs, n=4)
                meds.append(med)
                parts.append(f"set{k + 1} median {med:.4g} iqr/median "
                             f"{(q[2] - q[0]) / med if med else 0.0:.3f}")
            worse = [sign * (m - meds[0]) / meds[0] for m in meds[1:] if meds[0]]
            print(f"  {name:52s} " + "; ".join(parts)
                  + "".join(f"; set{k + 2} worse by {x:+.3f}" for k, x in enumerate(worse))
                  + ("" if bound is None else f"  (bound {bound})"))


if __name__ == "__main__":
    main()
