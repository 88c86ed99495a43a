"""Percentile, tail and self-time arithmetic, and the trace rollup.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import stats, trace  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 75), 3.25)

    def test_single_value(self):
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 201)]  # 200 samples
        p, v, beyond = stats.tail(xs)
        self.assertEqual(p, 95.0)  # p99 leaves 2 beyond, p95 leaves 10
        self.assertEqual(beyond, 10)
        self.assertAlmostEqual(v, stats.percentile(xs, 95))

    def test_short_run_asks_for_an_eighth_but_two_at_least(self):
        xs = [float(i) for i in range(1, 16)]  # 15 samples: need 2 beyond
        p, _, beyond = stats.tail(xs)
        self.assertEqual((p, beyond), (90.0, 2))
        xs = [float(i) for i in range(1, 41)]  # 40 samples: need 5 beyond
        p, _, beyond = stats.tail(xs)
        self.assertEqual((p, beyond), (75.0, 10))

    def test_constant_samples_fall_back_to_median(self):
        p, v, beyond = stats.tail([2.0] * 30)
        self.assertEqual((p, v, beyond), (50.0, 2.0, 0))


class SelfTimeTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)

    def test_union_clips_to_window(self):
        self.assertAlmostEqual(stats.union_length([(-1, 2), (8, 12)], 0, 10), 4.0)

    def test_self_time_subtracts_covered_part(self):
        # span 0..10, children 1..3 and 2..5 (overlapping) and 9..12
        # (sticking out): covered 1..5 and 9..10 = 5
        self.assertAlmostEqual(stats.self_time((0, 10), [(1, 3), (2, 5), (9, 12)]), 5.0)

    def test_self_time_without_children_is_duration(self):
        self.assertAlmostEqual(stats.self_time((3, 4.5), []), 1.5)


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        s, a, b, c = stats.spread(xs)
        self.assertEqual((a, b, c), (q1, q2, q3))
        self.assertAlmostEqual(s, (q3 - q1) / q2)


def span(id, name, start, end, parent=0, **attrs):
    return {"id": id, "parent": parent, "name": name, "start": start, "end": end,
            "attrs": attrs}


JOB = dict(stages=2, tasks=8, task_s=1.6, task_cpu_s=1.2, gc_s=0.1, input_bytes=100,
           input_rows=10, shuffle_write_bytes=50, shuffle_write_s=0.05,
           shuffle_read_bytes=50, shuffle_fetch_wait_s=0.01, spill_bytes=0)


class RollupTest(unittest.TestCase):
    """One cli op from 0 to 1000 ms: prepare 0-400 (an inference job
    100-300 and an analysis phase 300-350), render 400-900 (a validation
    span 450-550 holding a job 460-540, the collect job 600-800)."""

    def setUp(self):
        self.op = {"key": "q", "traced": True, "span": 1, "start_ms": 0.0, "end_ms": 1000.0,
                   "rows_out": 3, "bytes_out": 42}
        self.spans = [
            span(1, "op", 0, 1000),
            span(2, "sql.prepare", 0, 400, parent=1),
            span(3, "job", 100, 300, parent=2, **JOB),
            span(4, "catalyst.analysis", 300, 350),
            span(5, "octo.render", 400, 900, parent=1),
            span(6, "sources.validate", 450, 550, parent=5),
            span(7, "job", 460, 540, parent=6, **JOB),
            span(8, "job", 600, 800, parent=5, **JOB),
            span(9, "qe", 800, 800, rule_s=0.02, rule_invocations=10, rule_effective=4,
                 cap_reports=0, cap_binds=0),
            span(10, "stream.trigger", 5000, 5100, add_batch_s=0.05),  # another op's
        ]

    def test_layers(self):
        roots, owned = trace.assign([self.op], self.spans)
        self.assertEqual(set(roots), {1})
        self.assertNotIn(10, {s["id"] for s in owned[1]})
        m = trace.op_metrics(self.op, owned[1], cpus=4)
        self.assertAlmostEqual(m["sql.prepare_s"], 0.4 - 0.2 - 0.05)
        self.assertEqual(m["sources.infer_jobs"], 1)
        self.assertAlmostEqual(m["sources.infer_s"], 0.2)
        self.assertAlmostEqual(m["sources.validate_s"], 0.1)
        self.assertEqual(m["sources.validate_jobs"], 1)
        # render 0.5 s minus validation 0.1 s minus collect job 0.2 s
        self.assertAlmostEqual(m["octo.render_s"], 0.2)
        self.assertAlmostEqual(m["catalyst.analysis_s"], 0.05)
        self.assertEqual(m["exec.jobs"], 3)
        self.assertAlmostEqual(m["exec.task_s"], 4.8)
        self.assertAlmostEqual(m["exec.busy_share"], 4.8 / (1.0 * 4))
        self.assertAlmostEqual(m["exec.driver_gap_s"], 1.0 - 0.2 - 0.08 - 0.2)
        self.assertAlmostEqual(m["plans.rule_effective_ratio"], 0.4)
        self.assertEqual(m["stream.batches"], 0)
        self.assertEqual(m["octo.rows_out"], 3)

    def test_rollup_means_over_ops(self):
        means, by_key = trace.rollup({"ops": [self.op], "spans": self.spans}, cpus=4)
        self.assertEqual(set(by_key), {"q"})
        self.assertAlmostEqual(means["exec.jobs"], 3)


if __name__ == "__main__":
    unittest.main()
