"""Self-tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


class MedianGeomean(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median(x for x in (5.0,)), 5.0)

    def test_median_empty(self):
        with self.assertRaises(ValueError):
            stats.median([])

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4]), 2.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        self.assertAlmostEqual(stats.geomean([0.5]), 0.5)
        xs = [0.3, 1.7, 2.2, 0.9]
        self.assertAlmostEqual(stats.geomean(xs), math.exp(
            sum(map(math.log, xs)) / len(xs)))

    def test_geomean_rejects_nonpositive(self):
        for bad in ([], [1.0, 0.0], [-1.0]):
            with self.assertRaises(ValueError):
                stats.geomean(bad)


class FailRatio(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.fail_ratio(0, 27), 0.0)
        self.assertAlmostEqual(stats.fail_ratio(3, 12), 0.25)
        self.assertEqual(stats.fail_ratio(5, 5), 1.0)

    def test_bad_inputs(self):
        for f, a in ((0, 0), (-1, 3), (4, 3)):
            with self.assertRaises(ValueError):
                stats.fail_ratio(f, a)


def sp(i, parent, t0, t1):
    return {"id": i, "parent": parent, "start_ms": t0, "end_ms": t1}


class SpanSelfTime(unittest.TestCase):
    def test_nested(self):
        spans = [sp(1, 0, 0, 100), sp(2, 1, 10, 40), sp(3, 1, 50, 60),
                 sp(4, 2, 20, 30)]
        self.assertEqual(stats.span_self_time(spans),
                         {1: 60, 2: 20, 3: 10, 4: 10})

    def test_overlapping_children_count_once(self):
        # Two concurrent jobs under one execute span.
        spans = [sp(1, 0, 0, 100), sp(2, 1, 10, 50), sp(3, 1, 30, 70)]
        self.assertEqual(stats.span_self_time(spans)[1], 40)

    def test_children_clipped_to_parent(self):
        spans = [sp(1, 0, 10, 20), sp(2, 1, 0, 15), sp(3, 1, 18, 40)]
        self.assertEqual(stats.span_self_time(spans)[1], 3)

    def test_leaf(self):
        self.assertEqual(stats.span_self_time([sp(7, 0, 5, 9)]), {7: 4})


class Ledger(unittest.TestCase):
    def test_count_fields_varying(self):
        self.assertEqual(stats.count_fields_varying([4, 4, 4]), 4)
        self.assertEqual(stats.count_fields_varying([4, 6, 5]),
                         {"varying": True, "min": 4, "max": 6, "median": 5})

    def test_ledger_diff(self):
        old = {"q1": {"jobs": 3, "exchanges": 2},
               "q2": {"jobs": 5, "exchanges": {"varying": True}},
               "q3": {"jobs": 1, "exchanges": 0}}
        new = {"q1": {"jobs": 3, "exchanges": 1},
               "q2": {"jobs": 6, "exchanges": 4},
               "q4": {"jobs": 1, "exchanges": 0}}
        changed, varying, gone, added = stats.ledger_diff(
            old, new, ["jobs", "exchanges"])
        self.assertEqual(changed, [("q1", "exchanges", 2, 1),
                                   ("q2", "jobs", 5, 6)])
        self.assertEqual(varying, [("q2", "exchanges")])
        self.assertEqual((gone, added), (["q3"], ["q4"]))

    def test_ledger_diff_tool(self):
        a = {"q1": {"jobs": 3, "stages": 4}}
        b = {"q1": {"jobs": 4, "stages": 4}}
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, led in (("a", a), ("b", b)):
                paths.append(os.path.join(d, f"{name}.json"))
                with open(paths[-1], "w") as fh:
                    json.dump(led, fh)
            tool = os.path.join(HERE, "ledger_diff.py")
            same = subprocess.run([sys.executable, tool, paths[0], paths[0]],
                                  capture_output=True, text=True)
            diff = subprocess.run([sys.executable, tool, *paths],
                                  capture_output=True, text=True)
        self.assertEqual(same.returncode, 0)
        self.assertEqual(diff.returncode, 1)
        self.assertIn("changed  q1 jobs: 3 -> 4", diff.stdout)


if __name__ == "__main__":
    unittest.main()
