"""Tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


class TailTest(unittest.TestCase):
    def test_forty_samples_give_p75(self):
        xs = list(range(1, 41))
        value, p, beyond = stats.tail(xs)
        self.assertEqual((p, beyond), (75, 10))
        self.assertEqual(value, 30)

    def test_hundred_samples_give_p90(self):
        value, p, beyond = stats.tail(range(100, 0, -1))
        self.assertEqual((value, p, beyond), (90, 90, 10))

    def test_rule_is_highest_percentile_with_ten_beyond(self):
        for n in range(11, 300):
            xs = list(range(n))
            value, p, beyond = stats.tail(xs)
            self.assertGreaterEqual(beyond, 10)
            # one percentile higher would leave fewer than ten beyond
            if p < 99:
                k = -(-(p + 1) * n // 100)
                self.assertLess(n - k, 10, n)

    def test_too_few_samples_report_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100, 0))
        self.assertEqual(stats.tail(range(10)), (9, 100, 0))

    def test_eleven_samples(self):
        value, p, beyond = stats.tail(range(11))
        self.assertEqual(beyond, 10)
        self.assertEqual(value, 0)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, a, b, name="x"):
        return {"id": i, "parent": parent, "start_s": a, "end_s": b, "name": name}

    def test_no_children(self):
        self.assertAlmostEqual(stats.self_times([self.span(1, 0, 0.0, 2.0)])[1], 2.0)

    def test_disjoint_children(self):
        s = [self.span(1, 0, 0, 10), self.span(2, 1, 1, 3), self.span(3, 1, 5, 6)]
        self.assertAlmostEqual(stats.self_times(s)[1], 7.0)

    def test_overlapping_children_counted_once(self):
        s = [self.span(1, 0, 0, 10), self.span(2, 1, 1, 5), self.span(3, 1, 4, 7),
             self.span(4, 1, 6, 6.5)]
        st = stats.self_times(s)
        self.assertAlmostEqual(st[1], 4.0)   # children cover [1, 7]
        self.assertAlmostEqual(st[2], 4.0)

    def test_child_outside_parent_is_clipped(self):
        s = [self.span(1, 0, 2, 4), self.span(2, 1, 1, 3)]
        self.assertAlmostEqual(stats.self_times(s)[1], 1.0)

    def test_grandchildren_only_reduce_their_parent(self):
        s = [self.span(1, 0, 0, 10, "op"), self.span(2, 1, 0, 6, "a"),
             self.span(3, 2, 1, 5, "b")]
        by = stats.self_time_by_name(s)
        self.assertAlmostEqual(by["op"], 4.0)
        self.assertAlmostEqual(by["a"], 2.0)
        self.assertAlmostEqual(by["b"], 4.0)


class AccountingTest(unittest.TestCase):
    ops = [{"op": 0, "ok": True}, {"op": 1, "ok": False}, {"op": 2, "ok": True},
           {"op": 3, "ok": True}]

    def test_raised_operation_fails(self):
        attempted, failed, ok = stats.account(self.ops, {})
        self.assertEqual((attempted, failed), (4, 1))
        self.assertEqual([o["op"] for o in ok], [0, 2, 3])

    def test_failed_check_fails(self):
        attempted, failed, ok = stats.account(self.ops, {2: "wrong subjects"})
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual([o["op"] for o in ok], [0, 3])

    def test_raised_and_checked_counts_once(self):
        attempted, failed, ok = stats.account(self.ops, {1: "no output"})
        self.assertEqual((attempted, failed), (4, 1))


if __name__ == "__main__":
    unittest.main()
