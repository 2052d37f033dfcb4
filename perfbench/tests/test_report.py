"""Unit tests of the benchmark's reductions and input generator.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import report  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))            # 100 samples: p90 has 10 beyond
        self.assertEqual(report.tail_percentile(xs)[0], 90.0)
        xs = list(range(1, 1001))           # 1000 samples: p99 has 10 beyond
        self.assertEqual(report.tail_percentile(xs)[0], 99.0)
        xs = list(range(1, 41))             # 40 samples: p75 has 10 beyond
        self.assertEqual(report.tail_percentile(xs)[0], 75.0)

    def test_value_is_the_interpolated_quantile(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(report.tail_percentile(xs)[1],
                               report.quantile(xs, 0.9))
        self.assertAlmostEqual(report.quantile([1, 2, 3, 4], 0.5), 2.5)

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(report.tail_percentile([3.0, 1.0, 2.0]), (None, 3.0))
        self.assertEqual(report.tail_percentile(list(range(20)))[0], 50.0)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start_ns": start, "end_ns": end,
                "name": str(i), "layer": "x"}

    def test_parent_minus_covered_interval(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 40),
                 self.span(2, 0, 30, 60),    # overlaps child 1: union 10..60
                 self.span(3, 1, 12, 20)]    # grandchild: only 1's business
        st = report.self_times(spans)
        self.assertEqual(st[0], 100 - 50)
        self.assertEqual(st[1], 30 - 8)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 8)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 5, 50)]
        self.assertEqual(report.self_times(spans)[0], 5)


class DriverIdleTest(unittest.TestCase):
    def stage(self, submit, complete):
        return {"submit_ms": submit, "complete_ms": complete}

    def test_wall_minus_union_of_stage_runs(self):
        # op 1000..2000 ms; stages cover 1100..1300 and 1250..1500 and
        # 1800..1900 -> 500 ms covered, 500 ms of driver floor
        stages = [self.stage(1100, 1300), self.stage(1250, 1500),
                  self.stage(1800, 1900)]
        self.assertAlmostEqual(report.driver_idle_s(1000, 2000, stages), 0.5)

    def test_unsubmitted_stages_and_overhang_are_ignored(self):
        stages = [self.stage(0, 0), self.stage(900, 1100),
                  self.stage(1950, 2100)]
        self.assertAlmostEqual(report.driver_idle_s(1000, 2000, stages), 0.85)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory(dir=".") as d:
            for w in gen.SIZES:
                a, b, c = (os.path.join(d, w + x) for x in "abc")
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                gen.generate(w, 8, c)
                cmp = filecmp.dircmp(a, b)
                self.assertEqual(cmp.left_list, cmp.right_list)
                self.assertTrue(_identical(a, b), w)
                self.assertFalse(_identical(a, c), w)


def _identical(a, b):
    for root, _, files in os.walk(a):
        for f in files:
            p = os.path.join(root, f)
            q = os.path.join(b, os.path.relpath(p, a))
            if not filecmp.cmp(p, q, shallow=False):
                return False
    return True


if __name__ == "__main__":
    unittest.main()
