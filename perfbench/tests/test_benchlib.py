"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import statistics
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from benchlib import digests, metrics, verdict  # noqa: E402
from benchlib.workloads import WORKLOADS  # noqa: E402


class IntervalUnionAndGap(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30)]), 25)

    def test_nested_touching_and_empty(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12), (7, 7)]), 12)
        self.assertEqual(metrics.union_length([]), 0)

    def test_unsorted_input(self):
        self.assertEqual(metrics.union_length([(20, 30), (0, 5), (4, 6)]), 16)

    def test_clip_to_window(self):
        self.assertEqual(metrics.clip([(0, 10), (15, 25), (30, 40)], 5, 20),
                         [(5, 10), (15, 20)])

    def test_busy_plus_gap_is_wall(self):
        # stages cover 600 ms of a 1000 ms window, one spills past its end
        busy, gap = metrics.busy_and_gap(1.0, [(100, 400), (300, 500), (900, 1300)],
                                         0, 1000)
        self.assertAlmostEqual(busy, 0.5)
        self.assertAlmostEqual(gap, 0.5)
        self.assertAlmostEqual(busy + gap, 1.0)

    def test_busy_capped_at_wall(self):
        # millisecond window rounding must not make the gap negative
        busy, gap = metrics.busy_and_gap(0.999, [(0, 1000)], 0, 1000)
        self.assertEqual((busy, gap), (0.999, 0.0))


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(list(range(19))))   # p50 leaves 9 beyond
        p, v, n = metrics.tail(list(range(1, 21)))
        self.assertEqual((p, v, n), (50, 10, 20))

    def test_picks_highest_qualifying_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail(xs), (90, 90, 100))     # p95 leaves 5 beyond
        self.assertEqual(metrics.tail(list(range(1, 1001))), (99, 990, 1000))

    def test_order_does_not_matter(self):
        xs = list(range(1, 41))
        self.assertEqual(metrics.tail(xs), metrics.tail(list(reversed(xs))))
        self.assertEqual(metrics.tail(xs), (75, 30, 40))


class DigestComparator(unittest.TestCase):
    expected = {"q1": {"rows": 3, "hash": "12"}, "q2": {"rows": 0, "hash": "0"}}

    def ex(self, name, rows, h, error=None, p=0):
        return {"name": name, "pass": p, "rows": rows, "hash": h, "error": error}

    def test_match(self):
        self.assertEqual(digests.check(self.expected, [self.ex("q1", 3, "12"),
                                                       self.ex("q2", 0, "0")]), [])

    def test_row_count_or_hash_mismatch(self):
        fails = digests.check(self.expected, [self.ex("q1", 4, "12"), self.ex("q1", 3, "13", p=1)])
        self.assertEqual([(n, p) for n, p, _ in fails], [("q1", 0), ("q1", 1)])

    def test_error_and_unknown_query_fail(self):
        fails = digests.check(self.expected, [self.ex("q2", None, None, "java.lang.X"),
                                              self.ex("q9", 1, "1")])
        self.assertEqual([r.split()[0] for _, _, r in fails], ["threw", "no"])


class ComparisonVerdict(unittest.TestCase):
    base = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0, 10.05]

    def test_same_within_bound(self):
        self.assertEqual(verdict.verdict(self.base, [x * 1.01 for x in self.base],
                                         "lower", 0.1), "same")

    def test_worse_beyond_bound(self):
        self.assertEqual(verdict.verdict(self.base, [x * 1.2 for x in self.base],
                                         "lower", 0.1), "worse")

    def test_better_needs_pairs_and_spread(self):
        self.assertEqual(verdict.verdict(self.base, [x * 0.8 for x in self.base],
                                         "lower", 0.1), "better")
        # higher-is-better flips the direction
        self.assertEqual(verdict.verdict(self.base, [x * 0.8 for x in self.base],
                                         "higher", 0.1), "worse")

    def test_wide_spread_is_unresolved_unless_disjoint(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        self.assertEqual(verdict.verdict(self.base, noisy, "lower", 0.1), "unresolved")
        self.assertEqual(verdict.verdict(noisy, [1.0, 1.5, 2.0], "lower", 0.1), "better")

    def test_spread_matches_quantiles(self):
        q1, med, q3 = statistics.quantiles(self.base, n=4)
        self.assertAlmostEqual(verdict.spread(self.base), (q3 - q1) / med)


class Definitions(unittest.TestCase):
    def test_benchmark_json_matches_metric_and_workload_names(self):
        spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(WORKLOADS))

    def test_every_workload_query_has_an_expected_digest(self):
        exp = digests.load(HERE.parent / "expected" / "digests.json")
        for w in WORKLOADS.values():
            for q in w["queries"]:
                self.assertIn(q, exp)


if __name__ == "__main__":
    unittest.main()
