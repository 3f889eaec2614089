#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, and same-seed repeatability
of the per-layer counts.

    python3 perfbench/spread.py spread WORKLOAD SEED1 SEED2 ...
        One untraced run per seed; per metric: median and the quartile
        distance (statistics.quantiles, n=4) as a share of the median,
        beside the metric's bound in BENCHMARK.json.
    python3 perfbench/spread.py repeat WORKLOAD SEED
        Two traced runs with the same seed; prints every count-type
        per-layer metric of both and marks those whose values differ.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def spread(workload, seeds):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values = {}
    for s in seeds:
        r = run(workload, s, 0)
        if not r["correct"]:
            print(f"seed {s}: incorrect ({r['failed']} of {r['attempted']} failed)")
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: " + "  ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{workload:18s} {k:14s} median {statistics.median(xs):10.4f} "
              f"spread {(q3 - q1) / statistics.median(xs):.3f}  bound {bounds.get(k)}")


def repeat(workload, seed):
    a, b = run(workload, seed, 1), run(workload, seed, 1)
    for k in sorted(a["metrics"]):
        if a["metrics"][k]["unit"] != "count":
            continue
        x, y = a["metrics"][k]["value"], b["metrics"][k]["value"]
        tag = "exact" if x == y else "DIFFERS"
        print(f"{k:36s} {x:12.1f} {y:12.1f}  {tag}")


if __name__ == "__main__":
    if sys.argv[1] == "spread":
        spread(sys.argv[2], [int(s) for s in sys.argv[3:]])
    else:
        repeat(sys.argv[2], int(sys.argv[3]))
