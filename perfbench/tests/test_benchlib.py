"""Self-tests of the benchmark's metric and check helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import benchlib  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # 19 samples: the median (rank 10) has 9 beyond it -> no tail
        self.assertIsNone(benchlib.tail_percentile(range(19)))
        # 20 samples: p50 at rank 10 leaves exactly 10 beyond
        self.assertEqual(benchlib.tail_percentile(range(20)), (50.0, 9, 10))

    def test_picks_highest_qualifying_percentile(self):
        xs = list(range(1, 101))  # 100 samples
        # p90 -> rank 90, 10 beyond; p95 -> 5 beyond (too few)
        self.assertEqual(benchlib.tail_percentile(xs), (90.0, 90, 10))
        xs = list(range(1, 1001))
        # p99 -> rank 990, 10 beyond; p99.9 -> 1 beyond
        self.assertEqual(benchlib.tail_percentile(xs), (99.0, 990, 10))

    def test_order_independent(self):
        xs = [5, 1, 9, 3] * 10
        self.assertEqual(benchlib.tail_percentile(xs),
                         benchlib.tail_percentile(sorted(xs)))


class DriverTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(benchlib.union_length([(0, 10), (0, 10)]), 10)
        self.assertEqual(benchlib.union_length([(3, 4), (0, 10)]), 10)
        self.assertEqual(benchlib.union_length([]), 0)

    def test_union_clips_to_span(self):
        self.assertEqual(benchlib.union_length([(-5, 5), (8, 20)], 0, 10), 7)

    def test_driver_ms_is_span_minus_job_union(self):
        call = {"start": 100, "end": 200, "jobs": [[110, 150], [140, 160], [190, 230]]}
        # jobs cover 110..160 and 190..200 -> 60 ms; 40 ms on the driver
        self.assertEqual(benchlib.driver_ms(call), 40)
        self.assertEqual(benchlib.driver_ms({"start": 0, "end": 50, "jobs": []}), 50)


class Correctness(unittest.TestCase):
    def test_wrong_answer_fails(self):
        checks = [
            {"name": "ok", "expected": ["1|a", "2|b"], "actual": ["1|a", "2|b"]},
            {"name": "wrong", "expected": ["1|a", "2|b"], "actual": ["1|a", "2|c"]},
            {"name": "short", "expected": ["1|a"], "actual": []},
        ]
        self.assertEqual(benchlib.check_answers(checks), ["wrong", "short"])

    def test_gate_frames(self):
        import pandas as pd
        want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        got = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})
        self.assertEqual(benchlib.compare_frames(got, want), [])
        self.assertTrue(benchlib.compare_frames(
            pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]}), want))
        self.assertTrue(benchlib.compare_frames(
            pd.DataFrame({"k": [1.0, 2.0], "v": [0.5, 1.5]}), want))
        self.assertTrue(benchlib.compare_frames(want.head(1), want))


class Metrics(unittest.TestCase):
    def test_tracing_overhead_cancels_linear_warm_up(self):
        # warm set-ups speed up by 0.1 s per repetition; tracing costs 10%
        roles = ["warm_up"] * 2 + ["untraced", "traced", "traced", "untraced"] * 2
        times = [20.0, 7.0] + [(5.0 - 0.1 * i) * (1.1 if r == "traced" else 1.0)
                               for i, r in enumerate(roles[2:])]
        self.assertAlmostEqual(benchlib.tracing_overhead(times, roles), 0.1)
        # an untraced run has nothing to compare
        self.assertEqual(benchlib.tracing_overhead([9.0, 5.0, 6.0], ["untraced"] * 3), 0.0)

    def test_untraced_run_reports_every_end_to_end_metric(self):
        raw = {"ops": [{"kind": "a", "ms": 10.0}, {"kind": "b", "ms": 30.0}],
               "timed_s": 0.05, "setup_s": [3.0, 1.0, 2.0],
               "heap_retained_mb": 80.0}
        m = benchlib.end_to_end(raw, ops_per_block=2)
        self.assertEqual(set(m), {"setup_s", "wall_s"})
        self.assertEqual(m["setup_s"], (2.0, "s"))
        # wall_s: the median block of the fixed op mix, summed op times
        self.assertAlmostEqual(m["wall_s"][0], 0.04)

    def test_traced_run_reports_every_per_layer_metric(self):
        raw = {"ops": [{"kind": "a", "ms": 12.0}, {"kind": "a", "ms": 10.0}],
               "setup_s": [9.0, 7.0, 5.0, 6.0, 6.0, 5.0],
               "setup_roles": ["warm_up", "warm_up", "untraced", "traced",
                               "traced", "untraced"],
               "calls": [{"span": "io.table.append", "start": 0, "end": 10,
                          "jobs": [], "tasks": 0, "cpu_ns": 0,
                          "shuffle_bytes": 0, "spill_bytes": 0}],
               "heap_retained_mb": 80.0}
        m = benchlib.per_layer(raw, ["g1"], failed=0, attempted=2)
        self.assertEqual(set(m), {n for n, _ in benchlib.per_layer_names(["g1"])})
        self.assertEqual(m["io.table.jobless_write_frac"][0], 1.0)
        self.assertAlmostEqual(m["tracing_overhead_frac"][0], 0.2)
        self.assertEqual(m["op_ms_p50"][0], 11.0)


if __name__ == "__main__":
    unittest.main()
