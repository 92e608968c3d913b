"""Tests for the benchmark's own arithmetic (no Spark, no build).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import decimal
import random
import unittest

import metrics
import oracle


def op(name, seconds, ok=True, rows=100):
    return {"name": name, "seconds": seconds, "ok": ok, "rows": rows if ok else 0}


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        samples = list(range(1, 101))          # 1..100
        value, label, n = metrics.tail(samples)
        self.assertEqual((value, label, n), (90, "p90", 100))
        self.assertEqual(sum(1 for s in samples if s > value), 10)

    def test_percentile_follows_sample_count(self):
        value, label, n = metrics.tail([float(i) for i in range(30)])
        self.assertEqual((value, label, n), (19.0, "p66.7", 30))

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, "max", 3))
        self.assertEqual(metrics.tail([float(i) for i in range(10)])[1], "max")
        self.assertEqual(metrics.tail([float(i) for i in range(11)]), (0.0, "p9.1", 11))

    def test_order_does_not_matter(self):
        s = [random.Random(7).random() for _ in range(40)]
        self.assertEqual(metrics.tail(s), metrics.tail(sorted(s, reverse=True)))


class FailureTest(unittest.TestCase):
    def test_failed_and_mismatched_operations_count(self):
        ops = [op("a", 1.0), op("a", 1.1, ok=False), op("b", 0.5), op("b", 0.6)]
        self.assertEqual(len(metrics.failed_ops(ops, set())), 1)
        # every operation of a query whose reference failed its oracle fails
        self.assertEqual(len(metrics.failed_ops(ops, {"b"})), 3)

    def test_failures_are_missing_latencies_not_fast_ones(self):
        ops = [op("a", 1.0), op("a", 1.0), op("a", 0.001, ok=False)]
        e2e, info = metrics.end_to_end(ops, set(), 5.0)
        self.assertAlmostEqual(e2e["failed_frac"], 1 / 3)
        self.assertEqual(e2e["op_p50_s"], 1.0)          # not 0.001
        self.assertEqual(e2e["op_tail_s"], float("inf"))
        # rows of the failed operation do not count; its time does
        self.assertAlmostEqual(e2e["rows_per_s"], 200 / 2.001)
        self.assertEqual((info["attempted"], info["failed"]), (3, 1))

    def test_clean_run(self):
        ops = [op("a", s) for s in (1.0, 2.0, 3.0)]
        e2e, _ = metrics.end_to_end(ops, set(), 4.5)
        self.assertEqual(e2e["failed_frac"], 0.0)
        self.assertEqual(e2e["op_p50_s"], 2.0)
        self.assertEqual(e2e["setup_s"], 4.5)
        self.assertAlmostEqual(e2e["rows_per_s"], 50.0)


class DigestTest(unittest.TestCase):
    cols = ["b", "a", "c"]
    rows = [(1, "x", 1.5), (2, None, -0.0), (2, None, -0.0),
            (3, "z", decimal.Decimal("1.50"))]

    def test_row_and_column_order_do_not_matter(self):
        d = oracle.digest(self.cols, self.rows)
        self.assertEqual(d, oracle.digest(self.cols, list(reversed(self.rows))))
        perm = [1, 2, 0]
        moved = [tuple(r[i] for i in perm) for r in self.rows]
        self.assertEqual(d, oracle.digest([self.cols[i] for i in perm], moved))

    def test_values_duplicates_and_types_matter(self):
        d = oracle.digest(self.cols, self.rows)
        self.assertNotEqual(d, oracle.digest(self.cols, self.rows[:-1]))
        self.assertNotEqual(d, oracle.digest(self.cols, self.rows[1:] + self.rows[1:2]))
        self.assertNotEqual(d, oracle.digest(self.cols, [(1, "x", 1.5000001)] + self.rows[1:]))
        self.assertNotEqual(d, oracle.digest(self.cols, [(1.0, "x", 1.5)] + self.rows[1:]))
        self.assertNotEqual(d, oracle.digest(["b", "a", "d"], self.rows))

    def test_equal_values_written_differently_agree(self):
        self.assertEqual(oracle.canon(-0.0), oracle.canon(0.0))
        self.assertEqual(oracle.canon(decimal.Decimal("1.50")), oracle.canon(decimal.Decimal("1.5")))


if __name__ == "__main__":
    unittest.main()
