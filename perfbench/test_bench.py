#!/usr/bin/env python3
"""Tests of the benchmark's own arithmetic on synthetic inputs.

Run from the root of a checkout: python3 perfbench/test_bench.py
The digest test builds the tree (first time only) and starts one JVM.
"""
import shutil
import statistics
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(stats.percentile(xs, 0), 10)
        self.assertEqual(stats.percentile(xs, 50), 30)
        self.assertEqual(stats.percentile(xs, 100), 50)
        self.assertAlmostEqual(stats.percentile(xs, 90), 46.0)
        self.assertAlmostEqual(stats.percentile(list(reversed(xs)), 25), 20.0)

    def test_rejects_no_values(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailRuleTest(unittest.TestCase):
    """The highest percentile with at least ten samples beyond it."""

    def test_ladder(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_custom_minimum(self):
        self.assertEqual(stats.tail_percentile(100, min_beyond=1), 99.0)


class GeomeanTest(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 2, 2]), 2.0)
        self.assertAlmostEqual(stats.geomean([1, 10, 100, 1000]), 10 ** 1.5)

    def test_small_values_count(self):
        # a geometric mean moves as much for a 2x change in a 10 ms value
        # as for one in a 10 s value
        base = [10, 10000]
        self.assertAlmostEqual(stats.geomean([20, 10000]) / stats.geomean(base),
                               stats.geomean([10, 20000]) / stats.geomean(base))

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])
        with self.assertRaises(ValueError):
            stats.geomean([])


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [9.0, 10.0, 10.5, 11.0, 12.0, 10.2, 9.8, 10.1, 10.9, 9.5]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([5.0] * 10), 0.0)


class BacklogTest(unittest.TestCase):
    RATE = 3333

    def samples(self, backlog_at):
        return [(t * 1000.0, backlog_at(t)) for t in (0.0, 1.1, 2.3, 3.2, 4.4)]

    def test_steady_backlog_does_not_grow(self):
        # batch-sized saw-tooth around a constant level
        level = [4000, 3500, 4200, 3800, 4100]
        self.assertFalse(stats.backlog_grows(
            [(i * 1000.0, b) for i, b in enumerate(level)], self.RATE))

    def test_backlog_growing_with_input_grows(self):
        # half the input piles up
        self.assertTrue(stats.backlog_grows(self.samples(lambda t: 2000 + 0.5 * self.RATE * t),
                                            self.RATE))

    def test_threshold_is_a_share_of_the_rate(self):
        below = self.samples(lambda t: 0.05 * self.RATE * t)
        above = self.samples(lambda t: 0.15 * self.RATE * t)
        self.assertFalse(stats.backlog_grows(below, self.RATE))
        self.assertTrue(stats.backlog_grows(above, self.RATE))

    def test_shrinking_backlog_does_not_grow(self):
        self.assertFalse(stats.backlog_grows(self.samples(lambda t: 20000 - 3000 * t), self.RATE))

    def test_fewer_than_two_batches_leave_growth_unknown(self):
        self.assertIsNone(stats.backlog_grows([], self.RATE))
        self.assertIsNone(stats.backlog_grows([(0.0, 10.0)], self.RATE))

    def test_slope(self):
        self.assertAlmostEqual(stats.slope([(0, 1), (1, 3), (2, 5)]), 2.0)
        self.assertEqual(stats.slope([(0, 1)]), 0.0)
        self.assertEqual(stats.slope([(1, 1), (1, 5)]), 0.0)


@unittest.skipUnless(shutil.which("java"), "needs a JVM")
class DigestTest(unittest.TestCase):
    """Order-insensitive digest and cross-type canonical values, in the JVM."""

    def test_selftest(self):
        cp = build.ensure()
        work = build.STATE / "work" / "selftest"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        sys.path.insert(0, str(Path(__file__).resolve().parent))
        import run
        try:
            r = subprocess.run(["java"] + run.JVM_OPTS + [f"-Djava.io.tmpdir={work}", "-cp", cp,
                                "perfbench.Main", "selftest", str(work)],
                               capture_output=True, text=True, cwd=build.ROOT, timeout=170)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertIn("selftest ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
