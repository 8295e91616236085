#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic (no JVM needed):

    python3 perfbench/selftest.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from stats import percentile, self_times, spread, summary, tail_percentile  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_stream(self):
        for w in gen.WORKLOADS:
            a = gen.generate(w, 7, 3)
            b = gen.generate(w, 7, 3)
            self.assertEqual(a, b)

    def test_other_seed_other_stream(self):
        for w in gen.WORKLOADS:
            a = gen.generate(w, 7, 3)
            b = gen.generate(w, 8, 3)
            self.assertNotEqual(a["steady"], b["steady"])
            self.assertNotEqual(a["backlog"], b["backlog"])

    def test_seed_keeps_the_shape(self):
        # a seed changes which events, never how many: runs stay comparable
        a = gen.generate("pipeline_steady", 1, 5)
        b = gen.generate("pipeline_steady", 2, 5)
        self.assertEqual(len(a["orders"]), len(b["orders"]))
        self.assertEqual(len(a["backlog"]), len(b["backlog"]))

    def test_steady_is_due_ordered_and_in_band_orders_expected(self):
        g = gen.generate("pipeline_steady", 3, 4)
        dues = [r[3] for r in g["steady"]]
        self.assertEqual(dues, sorted(dues))
        expected = {r[1] for r in g["backlog"] + g["steady"] if r[0] == "orders" and r[4]}
        self.assertEqual(expected, set(g["orders"]))
        self.assertTrue(any(r[0] == "customers" for r in g["steady"]))


class PercentileTest(unittest.TestCase):
    def test_median_and_interpolation(self):
        self.assertEqual(percentile([3, 1, 2], 50), 2)
        self.assertEqual(percentile([1, 2, 3, 4], 50), 2.5)
        self.assertAlmostEqual(percentile(list(range(101)), 90), 90.0)

    def test_tail_leaves_ten_samples_beyond(self):
        self.assertIsNone(tail_percentile(30))
        self.assertEqual(tail_percentile(40), 75.0)
        self.assertEqual(tail_percentile(100), 90.0)
        self.assertEqual(tail_percentile(999), 98.0)
        self.assertEqual(tail_percentile(1000), 99.0)
        for n in (40, 100, 250, 1000, 20000):
            q = tail_percentile(n)
            self.assertGreaterEqual(n * (100 - q) / 100, 10)

    def test_summary_reports_count(self):
        s = summary([float(i) for i in range(1, 201)])
        self.assertEqual(s["n"], 200)
        self.assertEqual(s["p50"], 100.5)
        self.assertEqual(s["tail_q"], 95.0)

    def test_spread(self):
        self.assertAlmostEqual(spread([10] * 10), 0.0)
        self.assertGreater(spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 0.4)


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted_once(self):
        spans = [dict(id=1, start=0, end=100, parent=0),
                 dict(id=2, start=10, end=40, parent=1),
                 dict(id=3, start=30, end=60, parent=1),   # overlaps its sibling
                 dict(id=4, start=90, end=120, parent=1),  # runs past its parent
                 dict(id=5, start=15, end=20, parent=2)]   # grandchild
        st = self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 5)

    def test_leaf_self_is_duration(self):
        self.assertEqual(self_times([dict(id=9, start=2.5, end=4.0, parent=0)])[9], 1.5)


class CatalogSelectionTest(unittest.TestCase):
    def test_one_row_per_family(self):
        fams = [run.family(n) for n in run.CATALOG_ROWS]
        self.assertEqual(sorted(fams), layers.FAMILIES)
        # the reference's operator ids (a2, j1, s5, ...) are one family
        self.assertEqual(run.family("s5_event_time"), "ops")


if __name__ == "__main__":
    unittest.main()
