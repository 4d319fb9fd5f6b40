"""Tests for the benchmark's arithmetic: the percentile rule, per-layer
self time and failure counting.

    python3 -B -m unittest discover -s perfbench -p 'test_*.py'
"""
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import compare  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 50), 7.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        v, p = stats.tail(xs)
        self.assertEqual(v, 30)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(p, 75.0)

    def test_tail_is_the_slowest_when_too_few(self):
        v, p = stats.tail([3, 20, 1, 7])
        self.assertEqual((v, p), (20, 100.0))

    def test_spread_matches_statistics_quantiles(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, med, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(med, 14.5)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        # op 0..100: build 0..30 with a job 10..20 inside; collect 30..100
        # with a stage 40..90 inside
        spans = [("queries", 0, 30), ("scheduler", 10, 20),
                 ("execute", 30, 100), ("executor", 40, 90)]
        st = stats.self_times(0, 100, spans, "harness")
        self.assertAlmostEqual(st["queries"], 20)
        self.assertAlmostEqual(st["scheduler"], 10)
        self.assertAlmostEqual(st["execute"], 20)
        self.assertAlmostEqual(st["executor"], 50)
        self.assertNotIn("harness", st)
        self.assertAlmostEqual(sum(st.values()), 100)

    def test_gaps_go_to_the_op(self):
        st = stats.self_times(0, 10, [("queries", 2, 5)], "pipeline")
        self.assertAlmostEqual(st["pipeline"], 7)
        self.assertAlmostEqual(st["queries"], 3)

    def test_concurrent_siblings_share_the_instant(self):
        # two parallel stages under one job: the overlap is split
        spans = [("scheduler", 0, 10), ("executor", 0, 6), ("executor", 4, 10)]
        st = stats.self_times(0, 10, spans, "harness")
        self.assertAlmostEqual(st["executor"], 10)
        self.assertAlmostEqual(st.get("scheduler", 0.0), 0)
        self.assertAlmostEqual(sum(st.values()), 10)

    def test_partial_overlap_is_a_sibling_not_a_child(self):
        spans = [("queries", 0, 6), ("scheduler", 4, 10)]
        st = stats.self_times(0, 10, spans, "harness")
        self.assertAlmostEqual(st["queries"], 5)
        self.assertAlmostEqual(st["scheduler"], 5)

    def test_spans_outside_the_op_are_clipped(self):
        st = stats.self_times(10, 20, [("executor", 0, 15)], "harness")
        self.assertAlmostEqual(st["executor"], 5)
        self.assertAlmostEqual(st["harness"], 5)

    def test_equal_intervals_nest(self):
        st = stats.self_times(0, 10, [("sql", 0, 10), ("scheduler", 0, 10)],
                              "harness")
        self.assertAlmostEqual(sum(st.values()), 10)
        self.assertEqual(len(st), 1)


class FailureCounting(unittest.TestCase):
    def test_raised_and_wrong_outputs_both_fail(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}]
        self.assertEqual(stats.count_failures(ops), (3, 1))
        self.assertEqual(stats.count_failures(ops, extra_failures=1), (3, 2))

    def test_failed_never_exceeds_attempted(self):
        self.assertEqual(stats.count_failures([{"ok": False}], 5), (1, 1))

    def test_pair_failures_are_summed_per_side(self):
        pairs = [{"parent": {"attempted": 10, "failed": 0},
                  "change": {"attempted": 10, "failed": 1}},
                 {"parent": {"attempted": 12, "failed": 2},
                  "change": {"attempted": 12, "failed": 0}}]
        self.assertEqual(compare.failures(pairs, "parent"), (22, 2))
        self.assertEqual(compare.failures(pairs, "change"), (22, 1))


def pair(pv, cv, metric="wall_s"):
    return {"parent": {"metrics": {metric: {"value": pv}}},
            "change": {"metrics": {metric: {"value": cv}}}}


class Verdicts(unittest.TestCase):
    def test_wins_ignore_ties(self):
        pairs = [pair(10, 9), pair(10, 11), pair(10, 10)]
        self.assertEqual(compare.wins(pairs, "wall_s", "lower"), (1, 1, 1))
        self.assertEqual(compare.wins(pairs, "wall_s", "higher"), (1, 1, 1))

    def test_gain_needs_nine_tenths_and_a_gap(self):
        parent = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]
        change = [9.0] * 10
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1, 10, 10,
                                         False), "gain")
        self.assertNotEqual(compare.verdict(parent, change, "lower", 0.1, 10,
                                            8, False), "gain")
        self.assertNotEqual(compare.verdict(parent, change, "lower", 0.1, 10,
                                            10, True), "gain")

    def test_regression_beyond_bound(self):
        parent = [10.0, 10.1, 9.9, 10.0, 10.05]
        change = [12.0, 12.1, 11.9, 12.0, 12.05]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1, 5, 0,
                                         False), "regression")
        self.assertEqual(compare.verdict(parent, change, "lower", 0.25, 5, 0,
                                         False), "no-regression")

    def test_unresolved_when_spread_exceeds_bound(self):
        parent = [8.0, 12.0, 9.0, 11.0, 10.0]
        change = [10.5, 11.5, 10.0, 12.5, 9.5]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1, 5, 2,
                                         False), "unresolved")

    def test_higher_is_better_direction(self):
        parent = [100.0, 101.0, 99.0, 100.0, 100.5]
        change = [80.0, 81.0, 79.0, 80.0, 80.5]
        self.assertEqual(compare.verdict(parent, change, "higher", 0.1, 5, 0,
                                         False), "regression")


if __name__ == "__main__":
    unittest.main()
