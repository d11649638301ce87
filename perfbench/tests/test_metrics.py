"""Unit tests of the metric rules in metrics.py (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import metrics  # noqa: E402


def raw_run(ops, passes, warmup=0, **extra):
    raw = {"cpus": "4", "setup_s": [7.0, 0.4, 0.5, 0.6, 0.3],
           "peak_rss_kb": 2048, "warmup_passes": str(warmup),
           "passes": passes, "ops": ops, "spans": [], "jobs": [],
           "stages": [], "qes": [], "gauges": []}
    raw.update(extra)
    return metrics.parse(raw)


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct = metrics.tail(xs)
        self.assertEqual(v, 90)  # 91..100 lie beyond it
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 12] * 2
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))
        self.assertEqual(metrics.tail(xs), (7, 100.0 * 14 / 24))

    def test_twenty_one_samples_is_the_minimum(self):
        v, pct = metrics.tail(list(range(21)))
        self.assertEqual(v, 10)
        self.assertAlmostEqual(pct, 100.0 * 11 / 21)

    def test_too_few_samples_reports_the_maximum(self):
        # 20 samples would put the percentile at p50: no tail is supported
        self.assertEqual(metrics.tail(list(range(20))), (19, None))
        self.assertEqual(metrics.tail([3, 1, 2]), (3, None))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # a 10 s build span with two concurrent broadcast jobs: the
        # union (2..7) is covered, not the sum (5 + 4)
        self.assertEqual(metrics.self_time((0, 10), [(2, 7), (3, 7)]), 5)

    def test_children_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_disjoint_and_nested(self):
        self.assertEqual(
            metrics.self_time((0, 100), [(10, 20), (30, 40), (12, 18)]), 80)

    def test_build_driver_time_from_a_traced_record(self):
        spans = [[0, -1, 0, "op", 0, 100], [1, 0, 0, "queries.build", 0, 60]]
        jobs = [[0, 0, 10, 30, [0], "parquet at X.scala:1"],
                [1, 0, 20, 40, [1], "broadcast"],
                [2, 0, 70, 90, [2], "action"]]
        r = raw_run([[0, "q", 1, 0, 100, True, "", 50]],
                    [[0, 0, 0, 0], [1, 0, 100, 50]], spans=spans, jobs=jobs)
        m = metrics.per_layer(r)
        self.assertEqual(m["queries.build_jobs"], 2)
        self.assertAlmostEqual(m["queries.build_driver_s"], 30 / 1e6)
        self.assertEqual(m["queries.resolve_jobs"], 1)
        self.assertAlmostEqual(m["spark.exec_s"], 50 / 1e6)


class FailedOps(unittest.TestCase):
    def test_failed_ops_count_but_have_no_latency(self):
        ops = [[i, "ok", 1, 0, 1_000_000, True, "", 2_000_000]
               for i in range(21)]
        ops.append([11, "boom", 1, 0, 60_000_000, False,
                    "IllegalStateException", 90_000_000])
        ops.append([12, "cold", 0, 0, 30_000_000, True, "", 80_000_000])
        r = raw_run(ops, [[0, 0, 30_000_000, 80_000_000],
                          [1, 0, 70_000_000, 150_000_000]])
        attempted, failed = metrics.counts(r)
        self.assertEqual((attempted, [o["name"] for o in failed]), (23, ["boom"]))
        e2e, info = metrics.end_to_end(r)
        self.assertEqual(info["op_samples"], 21)  # cold pass and failure out
        self.assertEqual(e2e["op_cpu_tail_s"], 2.0)
        self.assertEqual(e2e["op_cpu_p50_s"], 2.0)
        self.assertEqual(e2e["cold_cpu_s"], 80.0)
        self.assertEqual(e2e["pass_cpu_s"], 150.0)
        self.assertEqual(e2e["setup_s"], 0.5)
        self.assertEqual(e2e["peak_rss_mb"], 2.0)
        self.assertEqual(info["wall"]["cold_s"], 30.0)
        self.assertEqual(info["wall"]["pass_s"], 70.0)
        self.assertEqual(info["wall"]["op_p50_s"], 1.0)


class WarmupPasses(unittest.TestCase):
    def test_warmup_passes_are_not_measured(self):
        # pass 0 cold, pass 1 warm-up, passes 2 and 3 steady
        ops = [[0, "q", 0, 0, 9, True, "", 9_000_000],
               [1, "q", 1, 10, 15, True, "", 5_000_000],
               [2, "q", 2, 20, 22, True, "", 1_000_000],
               [3, "q", 3, 30, 33, True, "", 3_000_000]]
        passes = [[0, 0, 9, 9_000_000], [1, 10, 15, 5_000_000],
                  [2, 20, 22, 1_000_000], [3, 30, 33, 3_000_000]]
        r = raw_run(ops, passes, warmup=1)
        e2e, info = metrics.end_to_end(r)
        self.assertEqual(info["steady_passes"], 2)
        self.assertEqual(info["op_samples"], 2)
        self.assertEqual(e2e["cold_cpu_s"], 9.0)
        self.assertEqual(e2e["pass_cpu_s"], 2.0)  # median of 1 and 3
        self.assertEqual(e2e["op_cpu_tail_s"], 3.0)
        self.assertEqual([p[0] for p in metrics.steady_passes(r)], [2, 3])


if __name__ == "__main__":
    unittest.main()
