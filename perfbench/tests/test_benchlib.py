"""Unit tests for the benchmark tools' helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import random
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchlib  # noqa: E402


def span(i, parent, start, end, layer="l"):
    return {"id": i, "parent": parent, "layer": layer, "name": str(i),
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}


class QuartileTest(unittest.TestCase):
    def test_quartiles_match_statistics(self):
        rng = random.Random(7)
        for n in (2, 3, 4, 10, 22):
            xs = [rng.random() for _ in range(n)]
            self.assertEqual(benchlib.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(benchlib.quartiles([2.0]), (2.0, 2.0, 2.0))

    def test_spread(self):
        self.assertAlmostEqual(benchlib.spread([10, 10, 10, 10]), 0.0)
        self.assertGreater(benchlib.spread([8, 10, 12, 14]), 0.2)


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 3), span(3, 1, 5, 9), span(4, 3, 6, 7)]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st[1], 4.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(st[4], 1.0)

    def test_overlapping_children_counted_once(self):
        st = benchlib.self_times([span(1, 0, 0, 10), span(2, 1, 2, 6), span(3, 1, 4, 8)])
        self.assertAlmostEqual(st[1], 4.0)

    def test_layer_sums(self):
        spans = [span(1, 0, 0, 10, "bench"), span(2, 1, 0, 4, "query"),
                 span(3, 1, 4, 6, "query")]
        self.assertEqual({k: round(v, 6) for k, v in benchlib.layer_self_times(spans).items()},
                         {"bench": 4.0, "query": 6.0})


class VerdictTest(unittest.TestCase):
    def test_same_code_is_same(self):
        a = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]
        b = [10.1, 9.9, 10.0, 10.2, 10.0, 10.1, 9.8, 10.0, 10.2, 9.9]
        self.assertEqual(benchlib.verdict(a, b, "lower", 0.1), "same")

    def test_regression_and_gain(self):
        a = [10.0, 10.1, 9.9, 10.0, 10.05, 9.95, 10.0, 10.1, 9.9, 10.0]
        self.assertEqual(benchlib.verdict(a, [x * 1.3 for x in a], "lower", 0.1), "worse")
        self.assertEqual(benchlib.verdict(a, [x * 0.8 for x in a], "lower", 0.1), "better")
        self.assertEqual(benchlib.verdict(a, [x * 0.8 for x in a], "higher", 0.1), "worse")

    def test_wide_spread_is_unresolved(self):
        a = [10, 14, 8, 12, 9, 15, 7, 13]
        b = [11, 13, 9, 12, 8, 14, 10, 12]
        self.assertEqual(benchlib.verdict(a, b, "lower", 0.1), "unresolved")

    def test_pairs_won_ignores_ties(self):
        self.assertEqual(benchlib.pairs_won([1, 2, 3, 4], [0, 2, 4, 3], "lower"), 0.5)


class RecordTest(unittest.TestCase):
    def test_records_in_the_order_they_ran(self):
        with tempfile.TemporaryDirectory() as d:
            for name, start in (("w-s2-t0-1.json", 300), ("w-s10-t0-2.json", 100),
                                ("w-s1-t0-3.json", 200)):
                with open(os.path.join(d, name), "w") as f:
                    json.dump({"workload": "w", "start_ms": start, "metrics": {}}, f)
            self.assertEqual([r["start_ms"] for r in benchlib.load_records(d)], [100, 200, 300])


if __name__ == "__main__":
    unittest.main()
