"""Unit tests for the benchmark's own statistics.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402

MS = 1_000_000  # ns


class TailTest(unittest.TestCase):
    def test_rank_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        v, pct = stats.tail(xs)
        self.assertEqual(v, 90)   # ranks 91..100 lie beyond it
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_floor_applies_to_short_runs(self):
        # 18 samples: rank 8 would leave 10 beyond but sits below the
        # median; the p90 floor (rank ceil(16.2) = 17) applies instead
        xs = list(range(1, 19))
        v, pct = stats.tail(xs)
        self.assertEqual(v, 17)
        self.assertAlmostEqual(pct, 100 * 17 / 18)

    def test_rule_wins_once_it_is_above_the_floor(self):
        xs = list(range(1, 201))  # rank 190 = p95 leaves 10 beyond
        self.assertEqual(stats.tail(xs), (190, 95.0))

    def test_single_sample(self):
        self.assertEqual(stats.tail([4.0]), (4.0, 100.0))

    def test_empty_rejected(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class HdMedianTest(unittest.TestCase):
    def test_symmetric_samples_give_the_middle(self):
        self.assertAlmostEqual(stats.hd_median([1, 2, 3, 4, 5]), 3.0)
        self.assertAlmostEqual(stats.hd_median([10, 20]), 15.0)

    def test_single_sample(self):
        self.assertEqual(stats.hd_median([7.5]), 7.5)

    def test_weights_the_ranks_near_the_middle(self):
        # nine samples, two op kinds close to the middle: when the 5th
        # op is of the dearer kind, the sample median moves by the whole
        # gap, the estimate by much less
        a = [1, 1, 1, 1, 10, 12, 30, 30, 30]
        b = [1, 1, 1, 1, 12, 12, 30, 30, 30]
        self.assertEqual(stats.median(b) - stats.median(a), 2)
        self.assertLess(stats.hd_median(b) - stats.hd_median(a), 1)
        self.assertTrue(10 < stats.hd_median(a) < 12)

    def test_empty_rejected(self):
        with self.assertRaises(ValueError):
            stats.hd_median([])


class GeomeanTest(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)

    def test_scale_invariant_ratio(self):
        a = [3.0, 7.0, 11.0]
        self.assertAlmostEqual(stats.geomean([2 * x for x in a]),
                               2 * stats.geomean(a))

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])


def span(i, parent, op, start, end, name="s"):
    return {"id": i, "name": name, "parent": parent, "op": op,
            "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted(self):
        spans = [span(0, -1, 0, 0, 100), span(1, 0, 0, 10, 40),
                 span(2, 0, 0, 50, 90), span(3, 2, 0, 60, 70)]
        st = stats.self_times(spans)
        self.assertEqual(st, {0: 30, 1: 30, 2: 30, 3: 10})
        # self times of a tree add up to the root's wall
        self.assertEqual(sum(st.values()), 100)


def op(i, start, end):
    return {"id": i, "start": start, "end": end}


def job(i, submit_ms, end_ms=None):
    return {"id": i, "submit_ms": submit_ms,
            "end_ms": submit_ms + 1 if end_ms is None else end_ms}


class AttributionTest(unittest.TestCase):
    def setUp(self):
        # op 0: 1000..2000 ms with child span 1200..1500 ms;
        # op 1: 3000..4000 ms, no child spans
        self.ops = [op(0, 1000 * MS, 2000 * MS), op(1, 3000 * MS, 4000 * MS)]
        self.spans = [span(0, -1, 0, 1000 * MS, 2000 * MS, "op.import"),
                      span(1, 0, 0, 1200 * MS, 1500 * MS, "api.import"),
                      span(2, -1, 1, 3000 * MS, 4000 * MS, "op.errors")]

    def test_job_goes_to_innermost_open_span(self):
        got = stats.attribute([job(7, 1300)], self.ops, self.spans)
        self.assertEqual(got, {7: (0, 1)})

    def test_job_outside_child_goes_to_root_span(self):
        got = stats.attribute([job(7, 1600)], self.ops, self.spans)
        self.assertEqual(got, {7: (0, 0)})

    def test_job_between_ops_is_unattributed(self):
        got = stats.attribute([job(7, 2500)], self.ops, self.spans)
        self.assertEqual(got, {})

    def test_untagged_job_from_another_thread_follows_time(self):
        # jobs carry no op id here: a leg future's job is placed purely
        # by its submission time
        got = stats.attribute([job(1, 1001), job(2, 3999), job(3, 999)],
                              self.ops, self.spans)
        self.assertEqual(got, {1: (0, 0), 2: (1, 2)})

    def test_covered_union(self):
        iv = [(0, 10), (5, 20), (30, 40)]
        self.assertEqual(stats.covered(iv, 0, 50), 30)
        self.assertEqual(stats.covered(iv, 8, 35), 17)


if __name__ == "__main__":
    unittest.main()
