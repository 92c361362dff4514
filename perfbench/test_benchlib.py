"""Self-tests of the benchmark's pure logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import benchlib as b


class PercentileTest(unittest.TestCase):

    def test_harrell_davis_on_symmetric_samples(self):
        # weights are symmetric about the middle, so the median of a
        # symmetric sample is its centre
        self.assertAlmostEqual(b.percentile(list(range(1, 41)), 0.5), 20.5, places=6)
        self.assertAlmostEqual(b.percentile([1.0] * 8 + [2.0] * 8, 0.5), 1.5, places=6)
        self.assertAlmostEqual(b.percentile([3.0] * 16, 0.75), 3.0, places=6)

    def test_harrell_davis_close_to_order_statistic_rule(self):
        # on a smooth sample it lands near linear interpolation (30.25)
        self.assertAlmostEqual(b.percentile(list(range(1, 41)), 0.75), 30.25, delta=0.3)

    def test_moves_smoothly_across_a_gap_between_clusters(self):
        # two clusters (fast and slow queries) split 8/8 versus 7/9: linear
        # interpolation at the median jumps from 1.5 to 10, Harrell-Davis
        # moves part of the way
        even = b.percentile([1.0] * 8 + [10.0] * 8, 0.5)
        shifted = b.percentile([1.0] * 7 + [10.0] * 9, 0.5)
        self.assertAlmostEqual(even, 5.5, places=6)
        self.assertLess(shifted - even, 10.0 - 5.5)

    def test_ignores_input_order(self):
        values = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
        self.assertEqual(b.percentile(values, 0.75), b.percentile(sorted(values), 0.75))

    def test_guard_needs_four_samples_beyond(self):
        self.assertEqual(b.min_samples(0.5), 8)
        self.assertEqual(b.min_samples(0.75), 16)
        self.assertEqual(b.min_samples(0.9), 40)
        with self.assertRaises(ValueError):
            b.percentile(list(range(15)), 0.75)
        b.percentile(list(range(16)), 0.75)
        with self.assertRaises(ValueError):
            b.percentile(list(range(7)), 0.5)

    def test_rejects_out_of_range_q(self):
        with self.assertRaises(ValueError):
            b.percentile(list(range(100)), 1.0)


class PermutationTest(unittest.TestCase):
    NAMES = ["a", "b", "c", "d", "e", "f"]

    def test_pinned_orders(self):
        # pinned so a change to the shuffle (and with it every seed's
        # workload order) cannot go unnoticed
        self.assertEqual(b.permutation(self.NAMES, 7, 0), ["e", "f", "a", "c", "d", "b"])
        self.assertEqual(b.permutation(self.NAMES, 7, 1), ["e", "c", "f", "d", "b", "a"])
        self.assertEqual(b.permutation(self.NAMES, 8, 0), ["b", "e", "f", "a", "d", "c"])

    def test_depends_only_on_the_set_of_names(self):
        shuffled = ["d", "a", "f", "c", "e", "b"]
        self.assertEqual(b.permutation(shuffled, 7, 0), b.permutation(self.NAMES, 7, 0))

    def test_is_a_permutation(self):
        for seed in range(20):
            self.assertEqual(sorted(b.permutation(self.NAMES, seed, 3)), self.NAMES)


class ExpectationsTest(unittest.TestCase):

    def test_parses_rows_and_hashes(self):
        text = "# comment\n\nq1_agg\t6\t-4741784019089571742\nstream_x\t5\t-\n"
        self.assertEqual(b.parse_expectations(text),
                         {"q1_agg": (6, "-4741784019089571742"), "stream_x": (5, None)})

    def test_rejects_malformed_lines(self):
        for bad in ["q1\t6\n", "q1\tsix\t-\n", "q 1\t6\t-\n", "q1\t6\tabc\n",
                    "q1\t6\t-\nq1\t6\t-\n"]:
            with self.assertRaises(ValueError, msg=bad):
                b.parse_expectations(bad)


class SelfTimeTest(unittest.TestCase):

    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_parent_minus_children(self):
        spans = [self.span(0, None, 0, 100),
                 self.span(1, 0, 10, 40), self.span(2, 0, 50, 90),
                 self.span(3, 1, 10, 20)]
        st = b.self_times(spans)
        self.assertEqual(st, {0: 30, 1: 20, 2: 40, 3: 10})

    def test_overlapping_and_overhanging_children_count_once(self):
        spans = [self.span(0, None, 0, 100),
                 self.span(1, 0, 10, 50), self.span(2, 0, 30, 60),  # overlap 30..50
                 self.span(3, 0, 90, 120)]                         # overhangs the parent
        self.assertEqual(b.self_times(spans)[0], 100 - 50 - 10)


class SelectTest(unittest.TestCase):
    CANDS = {"a1": ("A", 1.0), "a2": ("A", 0.5), "b1": ("B", 2.0),
             "b2": ("B", 0.2), "c1": ("C", 3.0)}
    WEIGHT = {"a1": 0.4, "a2": 0.1, "b1": 0.5, "b2": 0.06, "c1": 0.3}

    def test_heaviest_module_cover_within_budget(self):
        # one per module: a1+b1+c1 (1.2, cost 6.0) fits 6.0; at 5.0 the
        # heaviest cover that fits is a1+b2+c1 (0.76, cost 4.2), as
        # a2+b1+c1 (0.9, cost 5.5) does not; a2 then fills the rest
        self.assertEqual(b.select(self.CANDS, self.WEIGHT, 6.0, []), ["a1", "b1", "c1"])
        self.assertEqual(b.select(self.CANDS, self.WEIGHT, 5.0, []), ["a1", "a2", "b2", "c1"])

    def test_fills_the_rest_by_weight_per_cost(self):
        # cover a1+b1+c1 costs 6.0; b2 (0.3 per second, 0.2) still fits 6.2
        self.assertEqual(b.select(self.CANDS, self.WEIGHT, 6.2, []),
                         ["a1", "b1", "b2", "c1"])

    def test_cheapest_cover_when_nothing_fits(self):
        self.assertEqual(b.select(self.CANDS, self.WEIGHT, 1.0, []), ["a2", "b2", "c1"])

    def test_covered_modules_get_no_query_of_their_own(self):
        self.assertEqual(b.select(self.CANDS, self.WEIGHT, 4.0, [], covered=["B"]),
                         ["a1", "c1"])

    def test_required_first_even_over_budget(self):
        self.assertEqual(b.select(self.CANDS, self.WEIGHT, 0.0, ["a1", "b1"]),
                         ["a1", "b1", "c1"])


class NoopSuspectsTest(unittest.TestCase):

    def test_first_execution_did_io_timed_did_none(self):
        first = {"expire": (3, 2), "scan": (0, 0), "merge": (4, 1), "staged": (5, 0)}
        timed = {"expire": [(0, 0), (0, 0)], "scan": [(0, 0)], "merge": [(2, 1), (2, 1)],
                 "staged": [(0, 0), (1, 0)]}
        self.assertEqual(b.noop_suspects(first, timed), ["expire"])


if __name__ == "__main__":
    unittest.main()
