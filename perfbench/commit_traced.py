#!/usr/bin/env python3
"""Make results/traced.json: per workload, an untraced and a traced run
with the same seed, the per-layer numbers, the per-layer self-time table,
and the tracing overhead (traced end-to-end metric / untraced - 1).

    python3 perfbench/commit_traced.py [--seed 1] [--seconds 10]

Run from the root of a checkout; takes two benchmark runs per workload.
"""
import argparse
import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import run  # noqa: E402


def one(workload, seed, seconds, trace, raw_path):
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace), "--raw-out", str(raw_path)],
        stdout=subprocess.PIPE, text=True, check=True)
    lines = p.stdout.strip().splitlines()
    env = json.loads(lines[0].split(" ", 1)[1])
    return json.loads(lines[-1]), env, json.loads(raw_path.read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    out = {}
    with tempfile.TemporaryDirectory(dir=Path.cwd() / ".bench_build") as tmp:
        for w in run.WORKLOADS:
            plain, env0, _ = one(w, a.seed, a.seconds, 0, Path(tmp) / "p.json")
            traced, env1, raw = one(w, a.seed, a.seconds, 1,
                                    Path(tmp) / "t.json")
            r = metrics.parse(raw)
            e2e_traced, info = metrics.end_to_end(r)
            e2e = {k: v["value"] for k, v in plain["metrics"].items()}
            out[w] = {
                "seed": a.seed, "seconds": a.seconds,
                "correct": plain["correct"] and traced["correct"],
                "attempted": plain["attempted"], "failed": plain["failed"],
                "end_to_end_untraced": e2e,
                "end_to_end_traced": e2e_traced,
                "tracing_overhead": {k: e2e_traced[k] / e2e[k] - 1
                                     for k in e2e},
                "per_layer": {k: v["value"]
                              for k, v in traced["metrics"].items()},
                "layer_self_time": metrics.layer_table(r),
                "latency_info": info,
                "env_untraced": env0, "env_traced": env1,
            }
    dest = HERE / "results" / "traced.json"
    dest.parent.mkdir(exist_ok=True)
    dest.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"wrote {dest}")


if __name__ == "__main__":
    main()
