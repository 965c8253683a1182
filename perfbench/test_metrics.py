"""Tests for the benchmark's metric arithmetic and compare.py's verdict.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import compare
import metrics as M


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 50), 50)
        self.assertEqual(M.percentile(xs, 90), 90)
        self.assertEqual(M.percentile(xs, 99), 99)
        self.assertEqual(M.percentile([7], 90), 7)
        self.assertEqual(M.percentile([3, 1, 2], 50), 2)

    def test_weighted_matches_expanded(self):
        pairs = [(5.0, 3), (1.0, 2), (9.0, 5)]
        flat = [v for v, w in pairs for _ in range(w)]
        for p in (10, 50, 90, 99):
            self.assertEqual(M.weighted_percentile(pairs, p), M.percentile(flat, p))

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            M.percentile([], 50)
        with self.assertRaises(ValueError):
            M.weighted_percentile([], 50)

    def test_sample_count_rule(self):
        # a percentile is reportable with at least ten samples beyond it
        self.assertFalse(M.supports(99, 90))
        self.assertTrue(M.supports(100, 90))
        self.assertEqual(M.highest_supported(19), None)
        self.assertEqual(M.highest_supported(20), 50)
        self.assertEqual(M.highest_supported(170), 90)
        self.assertEqual(M.highest_supported(200), 95)
        self.assertEqual(M.highest_supported(1000), 99)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(M.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(M.union_length([]), 0)
        self.assertEqual(M.union_length([(4, 4), (5, 3)]), 0)

    def test_driver_gap_is_wall_minus_stage_union(self):
        # window 0..10; stages cover 1..3 and 2..5 (union 4) and one
        # stage sticking out of the window is cut at its edge
        self.assertEqual(M.driver_gap((0, 10), [(1, 3), (2, 5), (9, 12)]), 10 - 4 - 1)
        self.assertEqual(M.driver_gap((0, 10), []), 10)
        self.assertEqual(M.driver_gap((0, 10), [(-5, 20)]), 0)

    def test_critical_path_and_slack(self):
        stages = [{"submit": 0, "complete": 10, "max_task_ms": 7},
                  {"submit": 10, "complete": 12, "max_task_ms": 2},
                  {"submit": 3, "complete": 4, "max_task_ms": 5}]
        self.assertEqual(M.critical_path(stages), 14)
        # per stage: 3, 0, and 0 (a task longer than the stage span
        # is clock skew, never negative slack)
        self.assertEqual(M.slack(stages), 3)


class OpenLoopTest(unittest.TestCase):
    def test_lateness(self):
        ticks = [(0, 0.5, 10), (20, 19.0, 10), (40, 47, 10)]
        self.assertEqual(M.lateness(ticks), [0.5, 0.0, 7])

    def test_sawtooth_is_not_growing(self):
        # a queue that keeps up: ramps from 0, then swings with each
        # micro-batch between a low and a high mark
        samples = [(t * 20, min(t, 50) * 80 if t < 50 else 800 + (t % 50) * 80)
                   for t in range(200)]
        self.assertFalse(M.backlog_growing(samples, offered=200 * 80))

    def test_stalled_queue_is_growing(self):
        samples = [(t * 20, 80 * (t + 1)) for t in range(200)]
        self.assertTrue(M.backlog_growing(samples, offered=200 * 80))

    def test_no_samples(self):
        self.assertFalse(M.backlog_growing([], offered=100))


class KeyOrderTest(unittest.TestCase):
    KEYS = [f"q_{i:03d}" for i in range(40)]

    def test_same_seed_same_order(self):
        self.assertEqual(M.key_order(self.KEYS, 7), M.key_order(self.KEYS, 7))

    def test_order_ignores_input_order(self):
        self.assertEqual(M.key_order(self.KEYS, 7), M.key_order(self.KEYS[::-1], 7))

    def test_is_a_permutation_that_depends_on_seed(self):
        a, b = M.key_order(self.KEYS, 1), M.key_order(self.KEYS, 2)
        self.assertEqual(sorted(a), sorted(self.KEYS))
        self.assertNotEqual(a, b)

    def test_pinned_order(self):
        # pins the permutation across Python versions: runs of one seed
        # must time the keys in the same order on every host
        self.assertEqual(M.key_order(["a", "b", "c", "d", "e"], 1),
                         ["c", "d", "e", "a", "b"])


class VerdictTest(unittest.TestCase):
    STEADY = {s: 10.0 + 0.1 * s for s in range(10)}  # spread ~0.05

    def verdict(self, a, b, bound=0.1):
        return compare.verdict(a, b, bound, lower_better=True)[0]

    def test_steady_parent(self):
        self.assertEqual(self.verdict(self.STEADY, {s: v * 1.05 for s, v in self.STEADY.items()}),
                         "no worse")
        self.assertEqual(self.verdict(self.STEADY, {s: v * 1.3 for s, v in self.STEADY.items()}),
                         "worse")
        self.assertEqual(self.verdict(self.STEADY, {s: v * 0.8 for s, v in self.STEADY.items()}),
                         "improved")

    def test_parent_spread_wider_than_bound_is_unresolved(self):
        # quartile spread of A ~0.4 against a bound of 0.1: a B median
        # inside the bound proves nothing, one outside neither
        wide = {s: 10.0 + s for s in range(10)}
        self.assertEqual(self.verdict(wide, dict(wide)), "unresolved")
        self.assertEqual(self.verdict(wide, {s: v * 1.3 for s, v in wide.items()}),
                         "unresolved")
        # ... unless every B run beats every A run
        self.assertEqual(self.verdict(wide, {s: 9.0 - 0.01 * s for s in range(10)}),
                         "improved")
        self.assertEqual(self.verdict(wide, {0: 9.5, 1: 9.9}), "no worse")


if __name__ == "__main__":
    unittest.main()
