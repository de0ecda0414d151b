"""Self-tests of the runner's own logic: python3 -m unittest discover perfbench"""
import datetime as dt
import decimal
import unittest

import benchlib as b


class TailRule(unittest.TestCase):
    def test_reports_the_eleventh_largest_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        pct, value, beyond = b.tail(xs)
        self.assertEqual((pct, value, beyond), (90.0, 90, 10))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(b.tail([5, 1, 4, 2, 3] * 5), b.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_too_few_samples_report_the_nearest_rank_p90(self):
        self.assertEqual(b.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 0))
        # 39 samples: the 11th largest would sit below the 75th percentile.
        self.assertEqual(b.tail([float(i) for i in range(39)]), (36 / 39 * 100, 35.0, 3))
        self.assertEqual(b.tail([float(i) for i in range(20)]), (90.0, 17.0, 2))
        self.assertEqual(b.tail([float(i) for i in range(40)]), (75.0, 29.0, 10))


class Accounting(unittest.TestCase):
    def op(self, name, errors=()):
        return {"name": name, "errors": list(errors)}

    def test_thrown_and_wrong_results_both_count(self):
        ops = [self.op("a"), self.op("b", ["threw X"]), self.op("c", ["3 exact copies kept"]),
               self.op("a")]
        attempted, failed, why = b.account(ops)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(sorted(why), ["b", "c"])

    def test_oracle_mismatch_fails_every_execution_of_the_query(self):
        ops = [self.op("q1"), self.op("q2"), self.op("q1")]
        attempted, failed, why = b.account(ops, bad_queries={"q1"})
        self.assertEqual((attempted, failed), (3, 2))
        self.assertEqual(why["q1"], ["result differs from the DuckDB oracle"] * 2)

    def test_an_op_with_two_problems_counts_once(self):
        self.assertEqual(b.account([self.op("a", ["x", "y"])], {"a"})[:2], (1, 1))


class TracingOverhead(unittest.TestCase):
    def op(self, name, ms, traced):
        return {"name": name, "ms": ms, "traced": traced}

    def test_warm_up_drift_cancels_when_half_the_names_run_traced_first(self):
        # Every second execution is 20% faster; tracing costs 10%.
        ops = [self.op("a", 100.0, False), self.op("a", 80.0 * 1.1, True),
               self.op("b", 100.0 * 1.1, True), self.op("b", 80.0, False)]
        self.assertAlmostEqual(b.overhead(ops), 0.1)

    def test_names_seen_one_way_are_skipped(self):
        ops = [self.op("a", 100.0, False), self.op("a", 110.0, True), self.op("c", 999.0, True)]
        self.assertAlmostEqual(b.overhead(ops), 0.1)
        self.assertEqual(b.overhead([self.op("c", 1.0, False)]), 0.0)


class SpanArithmetic(unittest.TestCase):
    def span(self, i, parent, start, end, name="s"):
        return {"id": i, "parent": parent, "op": 0, "name": name,
                "start_ns": start, "end_ns": end}

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40),
                 self.span(2, 0, 30, 60), self.span(3, 1, 15, 20)]
        st = b.self_times(spans)
        self.assertEqual(st[0], 100 - 50)  # children cover 10..60
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[3], 5)
        # Self times of a strictly nested tree add up to the root's wall time.
        nested = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40), self.span(2, 0, 50, 60),
                  self.span(3, 1, 15, 20)]
        self.assertEqual(sum(b.self_times(nested).values()), 100)

    def test_union_clips_to_the_window(self):
        self.assertEqual(b.union_length([(-5, 5), (8, 20), (3, 9)], 0, 10), 10)
        self.assertEqual(b.union_length([(0, 1), (2, 3)], 0, 10), 2)
        self.assertEqual(b.union_length([], 0, 10), 0)

    def test_jobs_go_to_their_group_or_the_innermost_open_span(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 50)]
        jobs = [{"id": 7, "span": 0, "start_ns": 20}, {"id": 8, "span": -1, "start_ns": 20},
                {"id": 9, "span": -1, "start_ns": 70}, {"id": 10, "span": -1, "start_ns": 500}]
        self.assertEqual(b.attribute_jobs(jobs, spans), {7: 0, 8: 1, 9: 0})


class ResultHash(unittest.TestCase):
    cols = ["b", "a"]
    rows = [(1, "x"), (2, None), (3, "z"), (2, None)]

    def test_row_order_does_not_matter(self):
        h = b.result_hash(self.cols, self.rows)
        self.assertEqual(h, b.result_hash(self.cols, list(reversed(self.rows))))

    def test_column_order_does_not_matter(self):
        swapped = [(a, bb) for bb, a in self.rows]
        self.assertEqual(b.result_hash(self.cols, self.rows), b.result_hash(["a", "b"], swapped))

    def test_duplicates_and_values_do_matter(self):
        h = b.result_hash(self.cols, self.rows)
        self.assertNotEqual(h, b.result_hash(self.cols, self.rows[:3]))
        self.assertNotEqual(h, b.result_hash(self.cols, [(1, "x"), (2, None), (3, "y"), (2, None)]))
        self.assertNotEqual(b.result_hash(["a"], [(0.1,)]), b.result_hash(["a"], [(0.1 + 1e-15,)]))

    def test_numbers_compare_by_value_across_types(self):
        self.assertEqual(b.cell(5), b.cell(5.0))
        self.assertEqual(b.cell(decimal.Decimal("5.000")), "5")
        self.assertEqual(b.cell(decimal.Decimal("0.25")), b.cell(0.25))
        self.assertNotEqual(b.cell(True), b.cell(1))

    def test_timestamps_render_as_epoch_micros(self):
        self.assertEqual(b.cell(dt.datetime(1970, 1, 1, 0, 0, 1, 5)), "1000005")
        self.assertEqual(b.cell(dt.date(2024, 1, 2)), "2024-01-02")

    def test_known_vector(self):
        # Pins the rendering: the warm-up results and the oracle's are both
        # hashed here, so any change must keep them comparable.
        self.assertEqual(b.result_hash(["n", "s"], [(1, "a"), (2.5, None)]),
                         b.result_hash(["s", "n"], [(None, 2.5), ("a", 1)]))
        self.assertEqual(b.result_hash(["n", "s"], [(1, "a"), (2.5, None)]), "2:2877d71cb0b38da8:n,s")
        self.assertTrue(b.result_hash(["n"], []).startswith("0:0:"))


if __name__ == "__main__":
    unittest.main()
