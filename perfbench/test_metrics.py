"""Self-tests of the benchmark's metric math and input generator.

    python3 perfbench/test_metrics.py
"""

import os
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.median([])


class MedianRateTest(unittest.TestCase):
    def test_one_stall_does_not_move_the_rate(self):
        steady = [("a", 1.0, True), ("b", 2.0, True)] * 3
        stalled = steady[:-1] + [("b", 9.0, True)]
        self.assertEqual(metrics.median_rate(steady), 6 / 9.0)
        self.assertEqual(metrics.median_rate(stalled), 6 / 9.0)

    def test_failed_ops_take_time_but_do_not_count(self):
        ops = [("a", 1.0, True), ("a", 3.0, False), ("a", 2.0, True)]
        self.assertEqual(metrics.median_rate(ops), 2 / 6.0)


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        # 11 samples: only the smallest has ten beyond it
        self.assertEqual(metrics.tail(list(range(11))), (0, 100.0 / 11, 11))

    def test_hundred_samples_is_p90(self):
        value, pct, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 0.1, 9.0, 2.0, 7.5, 3.3, 1.1, 8.8, 6.6, 4.4, 0.5, 2.2, 9.9]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))
        value, _, _ = metrics.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)


class UnionTest(unittest.TestCase):
    def test_overlap_nesting_and_gaps(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3)]), 3)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([(5, 6), (0, 1)]), 2)
        self.assertEqual(metrics.union_length([(0, 1), (1, 2)]), 2)

    def test_clip(self):
        self.assertEqual(metrics.clip([(0, 5), (6, 9), (10, 12)], 2, 8), [(2, 5), (6, 8)])


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            (0, 7, "op", -1, 0, 10),
            (1, 7, "queries.build", 0, 1, 4),
            (2, 7, "spark.action", 0, 3, 9),   # overlaps build: counted once
            (3, 7, "inner", 2, 4, 5),
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st["op"], 10 - 8)
        self.assertEqual(st["queries.build"], 3)
        self.assertEqual(st["spark.action"], 6 - 1)
        self.assertEqual(st["inner"], 1)

    def test_child_outside_parent_is_clipped(self):
        st = metrics.self_times([(0, 1, "a", -1, 0, 4), (1, 1, "b", 0, 3, 6)])
        self.assertEqual(st["a"], 3)

    def test_same_name_sums(self):
        st = metrics.self_times([(0, 1, "x", -1, 0, 2), (1, 2, "x", -1, 5, 6)])
        self.assertEqual(st["x"], 3)


class AmplificationTest(unittest.TestCase):
    def test_write_amp(self):
        self.assertEqual(metrics.write_amp(4800, 2400), 2.0)
        self.assertIsNone(metrics.write_amp(100, 0))

    def test_space_amp(self):
        self.assertEqual(metrics.space_amp(3000, 1000), 3.0)
        self.assertIsNone(metrics.space_amp(3000, 0))


class InputsTest(unittest.TestCase):
    def test_seeded_bijection(self):
        for n in (1, 2, 100, 15000):
            a, b = inputs.affine(5, "order", n)
            self.assertEqual(sorted((a * k + b) % n for k in range(n)), list(range(n)))

    def test_same_seed_same_inputs_other_seed_same_sizes(self):
        with tempfile.TemporaryDirectory() as d:
            r1 = inputs.generate(f"{d}/a", 1)
            r1b = inputs.generate(f"{d}/b", 1)
            r2 = inputs.generate(f"{d}/c", 2)
            self.assertEqual(r1, r1b)
            self.assertEqual(r1, r2)
            for t in inputs.TABLES:
                self.assertTrue(pq.read_table(f"{d}/a/{t}.parquet").equals(
                    pq.read_table(f"{d}/b/{t}.parquet")), t)
            a = pq.read_table(f"{d}/a/lineitem.parquet")
            c = pq.read_table(f"{d}/c/lineitem.parquet")
            self.assertEqual(a.schema, c.schema)
            self.assertFalse(a.equals(c))
            # keys are renumbered, other columns keep their values
            self.assertEqual(sorted(a["l_extendedprice"].to_pylist()),
                             sorted(c["l_extendedprice"].to_pylist()))
            self.assertEqual(sorted(a["l_orderkey"].to_pylist()) != sorted(c["l_orderkey"].to_pylist()),
                             True)


class OracleCheckTest(unittest.TestCase):
    def test_each_failure_keeps_its_cause(self):
        root = Path(__file__).resolve().parents[1]
        with tempfile.TemporaryDirectory() as d:
            inp, chk = Path(d) / "in", Path(d) / "check"
            inp.mkdir()
            pq.write_table(pa.table({"k": [1, 2, 3]}), inp / "t.parquet")
            checks = {}
            for name, sql in (("same", "SELECT k FROM t"), ("off", "SELECT k + 1 AS k FROM t"),
                              ("unregistered", "")):
                (chk / name).mkdir(parents=True)
                pq.write_table(pa.table({"k": [3, 1, 2]}), chk / name / "part-0.parquet")
                checks[name] = {"dir": str(chk / name), "oracle": sql}
            failures = run.oracle_check(root, str(inp), checks)
        self.assertEqual(sorted(failures), ["off", "unregistered"])
        self.assertTrue(failures["off"].startswith("FAIL: col k"), failures["off"])
        self.assertIn("no oracle", failures["unregistered"])


if __name__ == "__main__":
    unittest.main()
