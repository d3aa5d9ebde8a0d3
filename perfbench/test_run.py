"""Tests of run.py's result handling: python3 perfbench/test_run.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def it(traced=False, **kw):
    base = dict(traced=traced, wall_s=10.0, cpu_s=30.0, recall=0.5,
                precision=1.0, clusters=7, gold_pairs=9, predicted_pairs=4, errors=[])
    base.update(kw)
    return base


class FailuresTest(unittest.TestCase):
    def test_clean_iterations_pass(self):
        self.assertEqual(run.failures([it(), it(), it(traced=True, clusters=6)]), 0)

    def test_an_iteration_with_errors_fails(self):
        self.assertEqual(run.failures([it(), it(errors=["1 input ids not assigned"])]), 1)

    def test_an_iteration_that_disagrees_fails(self):
        self.assertEqual(run.failures([it(), it(clusters=8)]), 1)
        self.assertEqual(run.failures([it(), it(recall=0.4)]), 1)


class MetricsTest(unittest.TestCase):
    def test_medians_and_rates(self):
        data = dict(warmup_end_epoch_ms=31000, peak_rss_mb=900.0, setups_s=[2.0, 3.0, 2.5],
                    iterations=[it(wall_s=10.0), it(wall_s=12.0), it(wall_s=20.0)])
        m = run.metrics_of(data, launch_s=1.0, rows=6000)
        self.assertEqual(m["wall_s"], 12.0)
        self.assertEqual(m["images_per_sec"], 500.0)
        self.assertEqual(m["warmup_s"], 30.0)
        self.assertEqual(m["setup_s"], 2.5)

    def test_trace_overhead_is_traced_sum_minus_untraced_wall(self):
        data = dict(warmup_end_epoch_ms=0, peak_rss_mb=1.0, setups_s=[1.0], iterations=[
            it(wall_s=10.0), it(traced=True, stage_sum_s=11.5, layers={"cc.wall_s": 2.0})])
        m = run.metrics_of(data, launch_s=0.0, rows=1)
        self.assertEqual(m["trace.overhead_s"], 1.5)
        self.assertEqual(m["cc.wall_s"], 2.0)


if __name__ == "__main__":
    unittest.main()
