"""Unit tests of the benchmark's derivations.

    python3 -m unittest discover -s perfbench/tests

The fingerprint test builds the harness (perfbench/build.py --tests) and
runs its Scala self-test.
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import derive  # noqa: E402
import workloads  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_reported_with_ten_samples_beyond(self):
        xs = list(range(1, 101))
        p = derive.tail_percentile(xs, 0.9)
        self.assertAlmostEqual(p, 90.1)
        self.assertEqual(sum(1 for x in xs if x > p), 10)

    def test_withheld_with_fewer_than_ten_beyond(self):
        self.assertIsNone(derive.tail_percentile(list(range(1, 60)), 0.9))
        self.assertIsNone(derive.tail_percentile([], 0.9))

    def test_ties_do_not_count_as_beyond(self):
        self.assertIsNone(derive.tail_percentile([1.0] * 200, 0.9))

    def test_median(self):
        self.assertEqual(derive.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(derive.percentile([4, 1, 2, 3], 0.5), 2.5)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        self.assertEqual(derive.self_time((0, 10), [(1, 3), (2, 5)]), 6)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(derive.self_time((0, 10), [(-5, 2), (8, 12)]), 6)

    def test_disjoint_and_outside_children(self):
        self.assertEqual(derive.self_time((0, 10), [(1, 2), (4, 6), (20, 30)]), 7)
        self.assertEqual(derive.self_time((0, 10), []), 10)
        self.assertEqual(derive.self_time((0, 10), [(0, 10), (3, 4)]), 0)


class Workloads(unittest.TestCase):
    def test_seed_fixes_the_order_not_the_set(self):
        for w, qs in workloads.WORKLOADS.items():
            self.assertEqual(len(set(qs)), len(qs), w)
            self.assertEqual(workloads.order(w, 7), workloads.order(w, 7))
            self.assertEqual(sorted(workloads.order(w, 7)), sorted(qs))
            self.assertNotEqual(workloads.order(w, 7), workloads.order(w, 8))


class FingerprintSelfTest(unittest.TestCase):
    def test_order_insensitive_fingerprint(self):
        cp = build.build(tests=True)
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(*cp), "perfbench.FingerprintCheck"],
                           capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
