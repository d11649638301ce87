#!/usr/bin/env python3
"""Layered benchmark of the graft engine: one command, two workloads.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program and the harness from
source (build.py), makes the workload's inputs from --seed inside a fresh
run directory, runs one JVM with a closed-loop client against
local[N] (N = min(4, nproc)), checks every output, and prints the
metrics. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics (from spans and Spark listeners) with
--trace 1. The traced run also writes its span file to
.bench_out/trace-<workload>-<seed>.json; trace_report.py prints it.
See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("graph", "swell_nightly")
JVM_OPTS = [
    "-Xmx2g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m",
    "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
    # a fixed set of JIT compiler threads from the start, so how much
    # compiling runs beside the workload does not follow queue timing
    "-XX:-UseDynamicNumberOfCompilerThreads",
    "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
] + [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
RUN_LIMIT_S = 170


def contention():
    """Host steal (jiffies, /proc/stat) and 1-minute load average."""
    steal, load = None, None
    try:
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8])
        with open("/proc/loadavg") as f:
            load = float(f.read().split()[0])
    except (OSError, IndexError, ValueError):
        pass
    return steal, load


def java_cmd(root, run_dir, main_class):
    """The JVM command for a harness main, with the run's own tmp dirs."""
    tmp = Path(run_dir) / "tmp"
    return (["java"] + JVM_OPTS +
            [f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
             "-cp", build.classpath(root), main_class])


def cpus():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="graph only: write expected/queries.json from "
                         "this run's outputs instead of checking them")
    ap.add_argument("--raw-out", help="also keep the raw run record here")
    a = ap.parse_args(argv)
    t_start = time.monotonic()
    root = Path.cwd().resolve()
    if not (root / "src/main/scala").is_dir():
        print("perfbench: run from the root of a checkout (no src/main/scala)",
              file=sys.stderr)
        return 2
    build.ensure_built(root)
    build_s = time.monotonic() - t_start

    run_dir = root / ".bench_run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "data", "warehouse", "stores", "spark-local"):
        (run_dir / sub).mkdir(parents=True)
    proc = None
    # on SIGTERM, unwind through the `finally` below: stop the JVM and
    # remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    try:
        expected = HERE / "expected" / "queries.json"
        if a.workload == "graph":
            import datagen
            datagen.write(run_dir / "data")
        raw_path = run_dir / "raw.json"
        cmd = java_cmd(root, run_dir, "graft.perfbench.Main") + [
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--run-dir", str(run_dir), "--data-dir", str(run_dir / "data"),
                "--expected", "" if a.record_expected else str(expected),
                "--out", str(raw_path), "--cpus", str(cpus())]
        steal0, load0 = contention()
        t_jvm = time.monotonic()
        with open(run_dir / "jvm.log", "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    cwd=run_dir)
            try:
                rc = proc.wait(timeout=max(10, RUN_LIMIT_S - build_s))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        steal1, load1 = contention()
        jvm_s = time.monotonic() - t_jvm
        if rc != 0 or not raw_path.is_file():
            sys.stderr.write((run_dir / "jvm.log").read_text()[-6000:])
            print(f"perfbench: harness failed ({rc})", file=sys.stderr)
            return 1
        raw = json.loads(raw_path.read_text())
        if a.raw_out:
            Path(a.raw_out).write_text(json.dumps(raw))
        if a.record_expected:
            expected.write_text(json.dumps(raw["results"], indent=1,
                                           sort_keys=True) + "\n")
        return report(a, raw, root, dict(
            steal_s=(steal1 - steal0) / 100.0 if steal0 is not None else None,
            build_s=round(build_s, 3), jvm_s=round(jvm_s, 3),
            load1_start=load0, load1_end=load1))
    finally:
        if proc and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass  # another run's directory is still there


def report(a, raw, root, env):
    r = metrics.parse(raw)
    attempted, failed = metrics.counts(r)
    e2e, info = metrics.end_to_end(r)
    print("env " + json.dumps(dict(env, cpus=int(raw["cpus"]))))
    print(f"ops attempted={attempted} failed={len(failed)} "
          f"fail_share={len(failed) / attempted:.4f} (base {attempted}); "
          f"op samples={info['op_samples']} over "
          f"{info['steady_passes']} steady passes; op_cpu_tail_s is " +
          (f"p{info['op_tail_percentile']:.1f}"
           if info["op_tail_percentile"] else
           f"the maximum (no tail percentile above the median has 10 "
           f"samples beyond it in {info['op_samples']} samples)"))
    print("wall times, not bounded (they follow the host's load): " +
          " ".join(f"{k}={v:.3f}" for k, v in info["wall"].items()))
    for o in failed:
        print(f"FAILED {o['name']} (pass {o['pass_']}): {o['error']}")
    if a.trace:
        values = metrics.per_layer(r)
        units = dict(metrics.PER_LAYER)
        out_dir = root / ".bench_out"
        out_dir.mkdir(exist_ok=True)
        (out_dir / f"trace-{a.workload}-{a.seed}.json").write_text(
            json.dumps(raw))
    else:
        values = e2e
        units = dict(metrics.END_TO_END)
    for k, v in values.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
