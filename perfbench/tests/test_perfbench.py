"""Tests of the benchmark's own logic: the seeded dump, the tail rule, the
end-to-end metrics and span self time. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, n), root)
                  for d, _, names in os.walk(root) for n in names)


class IngestDumpTest(unittest.TestCase):

    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            size_a = gen.write_ingest_dump(7, a)
            size_b = gen.write_ingest_dump(7, b)
            self.assertEqual(size_a, size_b)
            self.assertEqual(_files(a), _files(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_different_seed_gives_different_dump(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_ingest_dump(7, a)
            gen.write_ingest_dump(8, b)
            _, mismatch, _ = filecmp.cmpfiles(a, b, ["round0/posts.json"],
                                              shallow=False)
            self.assertEqual(mismatch, ["round0/posts.json"])

    def test_later_rounds_reoffer_earlier_posts(self):
        rounds = gen.ingest_plan(3)
        first = {p["id"] for entries in rounds[0].values() for p, _ in entries}
        later = {p["id"] for entries in rounds[1].values() for p, _ in entries}
        self.assertTrue(first & later)
        self.assertTrue(later - first)


class TailTest(unittest.TestCase):

    def test_leaves_ten_samples_above(self):
        # 1000 samples: the 990th smallest, at p99, with 10 above
        self.assertEqual(metrics.tail(range(1, 1001)), (990, 99.0, 10))

    def test_hundred_samples_is_the_smallest_with_a_tail(self):
        self.assertEqual(metrics.tail(range(1, 101)), (90, 90.0, 10))

    def test_percentile_rises_with_the_sample_count(self):
        # 250 samples: the 240th smallest, at p96
        self.assertEqual(metrics.tail(range(1, 251)), (240, 96.0, 10))

    def test_order_of_samples_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 40
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_too_few_samples_are_not_resolvable(self):
        # 99 samples would put the tail at p89.9, 18 at p44.4: no tail
        self.assertIsNone(metrics.tail(range(99)))
        self.assertIsNone(metrics.tail(range(18)))
        self.assertIsNone(metrics.tail(range(10)))
        self.assertIsNone(metrics.tail([]))


class EndToEndTest(unittest.TestCase):

    def test_iqm_cuts_a_quarter_from_each_end(self):
        self.assertEqual(metrics.iqm([1, 2, 3, 4, 100, 1000, 5, 6]), 4.5)
        self.assertEqual(metrics.iqm(range(9)), 4)
        self.assertEqual(metrics.iqm([7]), 7)

    def test_passes_are_pooled(self):
        result = {"setup_s": 9.0, "peak_rss_mb": 1500.0, "rows_per_pass": 30,
                  "passes": [{"wall_s": 2.0}, {"wall_s": 1.0}],
                  "ops": [{"ms": m} for m in (900, 100, 300, 700, 500, 200)]}
        out, diag = metrics.end_to_end(result)
        self.assertEqual(out["wall_s"], (3.0, "s"))
        # middle four of six: 200, 300, 500, 700
        self.assertEqual(out["op_iqm_ms"], (425.0, "ms"))
        self.assertEqual(out["rows_per_s"], (20.0, "rows/s"))
        self.assertEqual(diag, {"op_p50_ms": 400.0, "op_tail": None})


def _span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "op": 0, "name": name,
            "start_ms": start, "end_ms": end}


class SelfTimeTest(unittest.TestCase):

    def test_children_are_subtracted(self):
        spans = [_span(0, -1, "op", 0, 100), _span(1, 0, "construct", 0, 30),
                 _span(2, 0, "execute", 40, 100), _span(3, 2, "planning", 40, 45)]
        st = metrics.self_times(spans)
        self.assertEqual(st, {0: 10, 1: 30, 2: 55, 3: 5})

    def test_overlapping_children_count_once(self):
        spans = [_span(0, -1, "op", 0, 100), _span(1, 0, "write", 10, 50),
                 _span(2, 0, "write", 30, 60), _span(3, 0, "fetch", 70, 80)]
        self.assertEqual(metrics.self_times(spans)[0], 100 - 50 - 10)

    def test_children_are_clipped_to_the_parent(self):
        spans = [_span(0, -1, "op", 10, 20), _span(1, 0, "write", 15, 30)]
        self.assertEqual(metrics.self_times(spans)[0], 5)

    def test_rollup_by_name_sums_self_time(self):
        spans = [_span(0, -1, "op", 0, 10), _span(1, 0, "fetch", 0, 4),
                 _span(2, -1, "op", 20, 30), _span(3, 2, "fetch", 20, 23)]
        self.assertEqual(metrics.self_time_by_name(spans),
                         {"op": 13, "fetch": 7})


if __name__ == "__main__":
    unittest.main()
