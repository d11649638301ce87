"""Metrics of one benchmark run, computed from the harness's raw record.

The JVM harness (scala/Harness.scala) writes ops, passes, spans, Spark
jobs, stage totals, query executions and gauges; everything here is a
pure function of that record, so the rules are unit-tested without a
JVM (tests/test_metrics.py).
"""
import statistics

END_TO_END = [
    ("setup_s", "s"), ("cold_cpu_s", "s"), ("pass_cpu_s", "s"),
    ("op_cpu_p50_s", "s"), ("op_cpu_tail_s", "s"), ("peak_rss_mb", "MB"),
]

PER_LAYER = [
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("queries.build_driver_s", "s"), ("queries.resolve_jobs", "count"),
    ("queries.resolve_s", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("spark.exec_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_s", "s"),
    ("spark.busy_share", "ratio"), ("spark.exchanges", "count"),
    ("spark.broadcasts", "count"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.gc_s", "s"),
    ("operators.staged_mb", "MB"), ("operators.staged_blocks", "count"),
    ("operators.free_s", "s"),
    ("store.write_s", "s"), ("store.fold_s", "s"), ("store.compact_s", "s"),
    ("store.view_read_s", "s"), ("store.asof_read_s", "s"),
    ("store.lease_s", "s"), ("store.write_amp", "ratio"),
    ("store.space_amp", "ratio"), ("store.view_files", "count"),
    ("ingest.fetch_s", "s"), ("ingest.append_s", "s"),
    ("ingest.raw_rows", "count"),
    ("pipeline.refresh_s", "s"), ("pipeline.rebuild_s", "s"),
    ("pipeline.checks_s", "s"), ("pipeline.partitions_rewritten", "count"),
    ("pipeline.raw_rows_scanned", "count"),
    ("pipeline.scan_useful_ratio", "ratio"),
]

MB = 1e6


def tail(values, beyond=10):
    """Latency at the highest percentile with >= `beyond` samples above.

    Returns (value, percentile). With n sorted samples that is the one
    at 0-based index n - beyond - 1, i.e. percentile 100 * (n - beyond)
    / n. When that percentile would not lie above the median (n <=
    2 * beyond) the samples support no tail percentile at all; the
    maximum is returned instead, with percentile None, so that the
    slowest op still shows.
    """
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    if len(xs) <= 2 * beyond:
        return xs[-1], None
    return xs[len(xs) - beyond - 1], 100.0 * (len(xs) - beyond) / len(xs)


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of [start, end) intervals, clipped."""
    iv = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            iv.append((s, e))
    iv.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def parse(raw):
    """Turn the harness's positional arrays into dicts."""
    r = dict(raw)
    r["ops"] = [dict(id=o[0], name=o[1], pass_=o[2], start=o[3], end=o[4],
                     ok=o[5], error=o[6], cpu=o[7]) for o in raw["ops"]]
    r["passes"] = [dict(id=p[0], start=p[1], end=p[2], cpu=p[3])
                   for p in raw["passes"]]
    r["warmup_passes"] = int(raw["warmup_passes"])
    r["spans"] = [dict(id=s[0], parent=s[1], op=s[2], name=s[3], start=s[4],
                       end=s[5]) for s in raw["spans"]]
    r["jobs"] = [dict(id=j[0], op=j[1], start=j[2], end=j[3], stages=j[4],
                      first=j[5]) for j in raw["jobs"]]
    r["stages"] = {s[0]: dict(tasks=s[1], task_ms=s[2], sw=s[3], sr=s[4],
                              spill=s[5], gc_ms=s[6], records=s[7])
                   for s in raw["stages"]}
    r["qes"] = [dict(start=q[0], end=q[1], analysis=q[2], optimization=q[3],
                     planning=q[4], exchanges=q[5], broadcasts=q[6])
                for q in raw["qes"]]
    r["gauges"] = [dict(pass_=g[0], name=g[1], value=g[2])
                   for g in raw["gauges"]]
    return r


def steady_passes(r):
    """(id, start, end) of the measured passes: after the cold pass (0)
    and the warm-up passes."""
    return [(p["id"], p["start"], p["end"]) for p in r["passes"]
            if p["id"] > r["warmup_passes"]]


def end_to_end(r):
    """The user-facing numbers; fail_share rides in attempted/failed.

    Pass and op costs are process CPU seconds (all threads): on a shared
    host, wall time also counts the waits for a CPU that another process
    holds. The wall times of the same passes and ops are returned in the
    info dict, for printing.
    """
    cold = next(p for p in r["passes"] if p["id"] == 0)
    steady = [p for p in r["passes"] if p["id"] > r["warmup_passes"]]
    ops = [o for o in r["ops"]
           if o["ok"] and o["pass_"] > r["warmup_passes"]]
    cpu = [o["cpu"] / 1e6 for o in ops]
    wall = [(o["end"] - o["start"]) / 1e6 for o in ops]
    t, pct = tail(cpu)
    return {
        "setup_s": statistics.median(r["setup_s"]),
        "cold_cpu_s": cold["cpu"] / 1e6,
        "pass_cpu_s": statistics.median(p["cpu"] / 1e6 for p in steady),
        "op_cpu_p50_s": statistics.median(cpu),
        "op_cpu_tail_s": t,
        "peak_rss_mb": r["peak_rss_kb"] / 1024.0,
    }, {"op_tail_percentile": pct, "op_samples": len(cpu),
        "steady_passes": len(steady),
        "wall": {"cold_s": (cold["end"] - cold["start"]) / 1e6,
                 "pass_s": statistics.median((p["end"] - p["start"]) / 1e6
                                             for p in steady),
                 "op_p50_s": statistics.median(wall),
                 "op_tail_s": tail(wall)[0]}}


def counts(r):
    attempted = len(r["ops"])
    failed = [o for o in r["ops"] if not o["ok"]]
    return attempted, failed


def _deepest(spans, t):
    best = None
    for s in spans:
        if s["start"] <= t < s["end"] and (best is None or
                                           s["start"] >= best["start"]):
            best = s
    return best


def attach_jobs(r):
    """Parent each job to the innermost span open when it started."""
    by_op = {}
    for s in r["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    for j in r["jobs"]:
        cands = by_op.get(j["op"], r["spans"]) if j["op"] >= 0 else r["spans"]
        p = _deepest(cands, j["start"])
        j["parent"] = p["id"] if p else -1
    return r


def _ancestors(spans_by_id, sid):
    out = []
    while sid in spans_by_id:
        s = spans_by_id[sid]
        out.append(s["name"])
        sid = s["parent"]
    return out


def per_layer(r):
    """Per steady pass aggregates, reported as the median over passes."""
    attach_jobs(r)
    by_id = {s["id"]: s for s in r["spans"]}
    cpus = int(r["cpus"])
    owned = set()
    stage_job = {}
    for j in sorted(r["jobs"], key=lambda j: j["id"]):
        for st in j["stages"]:
            if st in r["stages"] and st not in owned:
                owned.add(st)
                stage_job.setdefault(j["id"], []).append(st)

    def stage_sum(jobs, key):
        return sum(r["stages"][st][key] for j in jobs
                   for st in stage_job.get(j["id"], []))

    rows = []
    for i, ps, pe in steady_passes(r):
        def inside(x):
            return ps <= x["start"] < pe
        sp = [s for s in r["spans"] if inside(s)]
        jb = [j for j in r["jobs"] if inside(j)]
        qe = [q for q in r["qes"] if inside(q)]
        ga = [g for g in r["gauges"] if g["pass_"] == i]

        def spans(name):
            return [s for s in sp if s["name"] == name]

        def dur(name):
            return sum(s["end"] - s["start"] for s in spans(name)) / 1e6

        def gauge(name, f=sum):
            v = [g["value"] for g in ga if g["name"] == name]
            return f(v) if v else 0.0

        builds = spans("queries.build")
        bjobs = [j for j in jb if "queries.build" in
                 _ancestors(by_id, j["parent"])]
        rjobs = [j for j in bjobs if j["first"].startswith("parquet at")]
        refresh_jobs = [j for j in jb if "pipeline.refresh" in
                        _ancestors(by_id, j["parent"])]
        task_s = stage_sum(jb, "task_ms") / 1e3
        raw_scanned = stage_sum(refresh_jobs, "records")
        view_bytes = gauge("store.view_bytes")
        m = {
            "queries.build_s": dur("queries.build"),
            "queries.build_jobs": len(bjobs),
            "queries.build_driver_s": sum(
                self_time((b["start"], b["end"]),
                          [(j["start"], j["end"]) for j in bjobs])
                for b in builds) / 1e6,
            "queries.resolve_jobs": len(rjobs),
            "queries.resolve_s": union_length(
                [(j["start"], j["end"]) for j in rjobs]) / 1e6,
            "catalyst.analysis_s": sum(q["analysis"] for q in qe) / 1e3,
            "catalyst.optimization_s": sum(q["optimization"] for q in qe) / 1e3,
            "catalyst.planning_s": sum(q["planning"] for q in qe) / 1e3,
            "spark.exec_s": union_length(
                [(j["start"], j["end"]) for j in jb]) / 1e6,
            "spark.jobs": len(jb),
            "spark.stages": sum(len(stage_job.get(j["id"], [])) for j in jb),
            "spark.tasks": stage_sum(jb, "tasks"),
            "spark.task_s": task_s,
            "spark.busy_share": task_s / (cpus * (pe - ps) / 1e6),
            "spark.exchanges": sum(q["exchanges"] for q in qe),
            "spark.broadcasts": sum(q["broadcasts"] for q in qe),
            "spark.shuffle_write_mb": stage_sum(jb, "sw") / MB,
            "spark.shuffle_read_mb": stage_sum(jb, "sr") / MB,
            "spark.spill_mb": stage_sum(jb, "spill") / MB,
            "spark.gc_s": stage_sum(jb, "gc_ms") / 1e3,
            "operators.staged_mb": gauge("operators.staged_bytes", max) / MB,
            "operators.staged_blocks": gauge("operators.staged_blocks", max),
            "operators.free_s": dur("operators.free"),
            "store.write_s": dur("store.write"),
            "store.fold_s": dur("store.fold"),
            "store.compact_s": dur("store.compact"),
            "store.view_read_s": dur("store.view_read"),
            "store.asof_read_s": dur("store.asof_read"),
            "store.lease_s": dur("store.lease"),
            "store.write_amp": (gauge("store.bytes_written") / view_bytes
                                if view_bytes else 0.0),
            "store.space_amp": (gauge("store.peak_disk_bytes") / view_bytes
                                if view_bytes else 0.0),
            "store.view_files": gauge("store.view_files"),
            "ingest.fetch_s": dur("ingest.fetch"),
            "ingest.append_s": dur("ingest.append"),
            "ingest.raw_rows": gauge("ingest.raw_rows"),
            "pipeline.refresh_s": dur("pipeline.refresh"),
            "pipeline.partitions_rewritten":
                gauge("pipeline.partitions_rewritten"),
            "pipeline.raw_rows_scanned": raw_scanned,
            "pipeline.scan_useful_ratio": (gauge("pipeline.useful_rows") /
                                           raw_scanned if raw_scanned else 0.0),
        }
        rows.append(m)
    out = {k: statistics.median(m[k] for m in rows) for k in rows[0]}
    # the rebuild and the checks run once, after the last pass
    once = [s for s in r["spans"] if s["start"] >= steady_passes(r)[-1][2]]
    out["pipeline.rebuild_s"] = sum(s["end"] - s["start"] for s in once
                                    if s["name"] == "pipeline.rebuild") / 1e6
    out["pipeline.checks_s"] = sum(s["end"] - s["start"] for s in once
                                   if s["name"] == "pipeline.checks") / 1e6
    return out


def layer_table(r):
    """Self time and count per span name (jobs as `spark.job`), whole run."""
    attach_jobs(r)
    kids = {}
    for s in r["spans"]:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for j in r["jobs"]:
        kids.setdefault(j["parent"], []).append((j["start"], j["end"]))
    table = {}
    for s in r["spans"]:
        t = table.setdefault(s["name"], [0, 0.0, 0.0])
        t[0] += 1
        t[1] += (s["end"] - s["start"]) / 1e6
        t[2] += self_time((s["start"], s["end"]), kids.get(s["id"], [])) / 1e6
    for j in r["jobs"]:
        t = table.setdefault("spark.job", [0, 0.0, 0.0])
        t[0] += 1
        t[1] += (j["end"] - j["start"]) / 1e6
        t[2] += (j["end"] - j["start"]) / 1e6
    return {k: {"count": v[0], "total_s": v[1], "self_s": v[2]}
            for k, v in sorted(table.items())}
