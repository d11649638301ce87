#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: one untraced run per
seed and workload, one at a time, then per metric the median, the
quartiles and the interquartile range over the median (the spread the
bounds in BENCHMARK.json are checked against). Writes results/spread.json.

    python3 perfbench/spread.py --seeds 201-210 [--seconds 10]

Run from the root of a checkout.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402


def one(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, text=True, check=True)
    lines = p.stdout.strip().splitlines()
    env = json.loads(next(x for x in lines if x.startswith("env "))[4:])
    wall = next(x for x in lines if x.startswith("wall times"))
    return json.loads(lines[-1]), env, wall.split(": ", 1)[1]


def summary(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return {"values": values, "median": m, "q1": q1, "q3": q3,
            "iqr_over_median": (q3 - q1) / m}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="201-210")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    out = {"how": f"python3 perfbench/run.py --workload W --seed S "
                  f"--seconds {a.seconds:g} --trace 0, seeds {lo}-{hi}, "
                  f"one run at a time",
           "workloads": {}}
    for w in a.workloads.split(","):
        runs, values = [], {}
        for seed in range(lo, hi + 1):
            res, env, wall = one(w, seed, a.seconds)
            runs.append({"seed": seed, "correct": res["correct"],
                         "wall": wall, **env})
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                flush=True)
        out["workloads"][w] = {
            "runs": runs,
            "metrics": {k: summary(v) for k, v in values.items()}}
        for k, v in out["workloads"][w]["metrics"].items():
            print(f"{w} {k}: median {v['median']:.4g} "
                  f"iqr/median {v['iqr_over_median']:.3f}", flush=True)
    dest = HERE / "results" / "spread.json"
    dest.write_text(json.dumps(out, indent=1) + "\n")
    print(f"wrote {dest}")


if __name__ == "__main__":
    main()
