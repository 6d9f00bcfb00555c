"""Tests of the benchmark's own logic (no Spark, no JVM).

    python3 -m unittest discover -s perfbench/tests
"""
import decimal
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

from bench import gen, oracle, stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_sample_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        value, pct, beyond, n = stats.tail(xs)
        self.assertEqual((value, beyond, n), (90, 10, 100))
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_of_input_does_not_matter(self):
        xs = [5.0, 1.0, 9.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_few_samples_fall_back_to_median(self):
        value, pct, _, n = stats.tail([3.0, 1.0, 2.0, 10.0, 4.0])
        self.assertEqual((value, pct, n), (3.0, 50.0, 5))

    def test_never_below_median(self):
        for n in (15, 20, 21):
            xs = list(range(n))
            value, pct, beyond, _ = stats.tail(xs)
            self.assertEqual(value, stats.quantile(xs, 0.5))
            self.assertEqual(pct, 50.0)
            self.assertEqual(beyond, sum(1 for x in xs if x > value))
        self.assertEqual(stats.tail(list(range(22)))[0], 11)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_ms": a, "end_ms": b}

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 50),
                 self.span(3, 1, 30, 70), self.span(4, 1, 80, 90)]
        out = stats.self_times(spans)
        self.assertEqual(out[1], 100 - 60 - 10)
        self.assertEqual(out[2], 40)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, 0, 10, 20), self.span(2, 1, 5, 15), self.span(3, 1, 18, 40)]
        self.assertEqual(stats.self_times(spans)[1], 10 - 5 - 2)

    def test_nested_grandchildren_do_not_reduce_grandparent_twice(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 0, 6), self.span(3, 2, 1, 5)]
        out = stats.self_times(spans)
        self.assertEqual((out[1], out[2], out[3]), (4, 2, 4))


class Generator(unittest.TestCase):
    def test_tables_are_deterministic_per_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen.write_tables(5, 0.001, a)
            gen.write_tables(5, 0.001, b)
            gen.write_tables(6, 0.001, c)
            for t in gen.TABLES:
                ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
                self.assertTrue(ta.equals(pq.read_table(os.path.join(b, f"{t}.parquet"))), t)
            self.assertFalse(pq.read_table(os.path.join(a, "documents.parquet")).equals(
                pq.read_table(os.path.join(c, "documents.parquet"))))

    def test_users_bodies_and_known_answer(self):
        b1, k1 = gen.users_bodies(3, 2, 400)
        b2, k2 = gen.users_bodies(3, 2, 400)
        self.assertEqual((b1, k1), (b2, k2))
        self.assertNotEqual(b1, gen.users_bodies(4, 2, 400)[0])
        self.assertEqual(k1["records"], 800)
        self.assertEqual(sum(k1["city_counts"].values()), 800)
        self.assertIn(None, k1["city_counts"])          # missing address / city
        top = max((v, c) for c, v in k1["city_counts"].items() if c)[1]
        self.assertEqual(top, gen.CITIES[0])             # Zipf head

    def test_orders_and_copy_names(self):
        items = list("abcde")
        o = gen.orders_for(9, "client0", items, 12)
        self.assertEqual(o, gen.orders_for(9, "client0", items, 12))
        self.assertNotEqual(o, gen.orders_for(9, "client1", items, 12))
        self.assertEqual(sorted(o[:5]), items)           # whole permutations
        self.assertEqual(gen.copy_name(9, 0), gen.copy_name(9, 0))
        self.assertNotEqual(gen.copy_name(9, 0), gen.copy_name(9, 1))


class Canonical(unittest.TestCase):
    def test_column_and_row_order_and_null(self):
        a = oracle.canon([(1, 0.5, None), (0, 2.0, "x")], ["k", "v", "s"])
        b = oracle.canon([("x", 0, 2.0), (None, 1, 0.5)], ["s", "k", "v"])
        self.assertEqual(a, b)
        self.assertIn("NULL", a[1])

    def test_floats_match_within_one_cent(self):
        a = oracle.canon([(18352219.39,), (0.1 + 0.2,)], ["v"])
        b = oracle.canon([(0.3,), (18352219.38,)], ["v"])
        self.assertTrue(oracle.same(a, b))
        self.assertFalse(oracle.same(oracle.canon([(0.34,)], ["v"]),
                                     oracle.canon([(0.32,)], ["v"])))

    def test_one_row_error_in_a_large_sum_fails(self):
        # a q04-style group sum, and the same sum off by the smallest
        # l_extendedprice and by one unit of l_quantity
        total = 987654321.25
        for row in (900.0, 1.0):
            self.assertFalse(oracle.same(oracle.canon([(total,)], ["s"]),
                                         oracle.canon([(total + row,)], ["s"])), row)
        # summation-order noise on the same sum still matches
        self.assertTrue(oracle.same(oracle.canon([(total,)], ["s"]),
                                    oracle.canon([(total * (1 + 4e-16),)], ["s"])))

    def test_decimal_compares_by_value(self):
        self.assertTrue(oracle.same(oracle.canon([(decimal.Decimal("100.00"),)], ["p"]),
                                    oracle.canon([(100.0,)], ["p"])))

    def test_distinct_values_stay_distinct(self):
        self.assertFalse(oracle.same(oracle.canon([(None,)], ["v"]),
                                     oracle.canon([("NULL ",)], ["v"])))
        self.assertFalse(oracle.same(oracle.canon([(1, "a")], ["k", "v"]),
                                     oracle.canon([(1, "a"), (1, "a")], ["k", "v"])))
        self.assertFalse(oracle.same(oracle.canon([(float("nan"),)], ["v"]),
                                     oracle.canon([(1.0,)], ["v"])))


if __name__ == "__main__":
    unittest.main()
