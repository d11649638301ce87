#!/usr/bin/env python3
"""Print a traced run's span file: self time and count per layer.

    python3 perfbench/trace_report.py .bench_out/trace-graph-1.json

Spans are the benchmark's own (run.py --trace 1): pass -> op -> build /
action / store.* / ingest.* / pipeline.* / operators.free, with every
Spark job parented to the innermost span open when it started. Self
time is a span's duration minus the union of its children's intervals,
so concurrent jobs (broadcasts) are not counted twice.
"""
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import metrics  # noqa: E402


def render(raw):
    r = metrics.parse(raw)
    lines = [f"workload {raw['workload']} seed {raw['seed']}",
             f"{'span':<24}{'count':>8}{'total_s':>12}{'self_s':>12}"]
    for name, t in metrics.layer_table(r).items():
        lines.append(f"{name:<24}{t['count']:>8}{t['total_s']:>12.3f}"
                     f"{t['self_s']:>12.3f}")
    units = dict(metrics.PER_LAYER)
    lines.append("per steady pass (median over passes):")
    for k, v in metrics.per_layer(metrics.parse(raw)).items():
        lines.append(f"  {k} = {v:.6g} {units[k]}")
    return "\n".join(lines)


if __name__ == "__main__":
    for p in sys.argv[1:]:
        print(render(json.loads(Path(p).read_text())))
