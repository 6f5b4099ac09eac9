"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

from stats import (attach, first_covering, lateness_ms, layer_self_times, percentile,
                   self_times, tail_percentile, union_length)


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 50), 50)
        self.assertEqual(percentile(xs, 90), 90)
        self.assertEqual(percentile(xs, 99.9), 100)
        self.assertEqual(percentile([7], 90), 7)
        self.assertIsNone(percentile([], 50))

    def test_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
        self.assertEqual(tail_percentile(list(range(100))), (90.0, 89))
        # 1000 samples: p99 leaves 10 beyond
        self.assertEqual(tail_percentile(list(range(1000)))[0], 99.0)
        # 40 samples: p75 leaves 10, p90 only 4
        self.assertEqual(tail_percentile(list(range(40)))[0], 75.0)
        # 20 samples: only the median has 10 beyond
        self.assertEqual(tail_percentile(list(range(20)))[0], 50.0)
        # 19 samples: no percentile qualifies
        self.assertEqual(tail_percentile(list(range(19))), (None, None))


class SelfTime(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(union_length([(0, 10), (5, 15)], lo=8, hi=12), 4)
        self.assertEqual(union_length([]), 0)

    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 1, "name": "stream.replayBatch", "start": 0, "end": 100, "parent": 0},
            # two overlapping jobs cover [10, 60] of the parent
            {"id": 2, "name": "merge.stats", "start": 10, "end": 50, "parent": 1},
            {"id": 3, "name": "merge.fold", "start": 40, "end": 60, "parent": 1},
            # a child running past its parent only counts inside it
            {"id": 4, "name": "merge.write", "start": 90, "end": 120, "parent": 1},
        ]
        st = self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 40)
        by_layer = layer_self_times(spans, lambda s: s["name"].split(".")[0])
        self.assertEqual(by_layer, {"stream": 40, "merge": 40 + 20 + 30})

    def test_jobs_attach_to_innermost_span(self):
        spans = [{"id": 1, "start": 0, "end": 100}, {"id": 2, "start": 20, "end": 40}]
        jobs = [{"id": 7, "start": 25, "end": 30}, {"id": 8, "start": 60, "end": 70},
                {"id": 9, "start": 500, "end": 510}]
        got = {j["id"]: j["parent"] for j in attach(jobs, spans)}
        self.assertEqual(got, {7: 2, 8: 1, 9: 0})


class OpenLoop(unittest.TestCase):
    def test_lateness_is_landed_minus_due(self):
        files = [{"due": 1000.0, "landed": 1000.5}, {"due": 1250.0, "landed": 1262.0}]
        self.assertEqual(lateness_ms(files), [0.5, 12.0])

    def test_freshness_counts_from_first_covering_commit(self):
        snaps = [{"commit": 300, "last_file": 4}, {"commit": 100, "last_file": 2},
                 {"commit": 200, "last_file": 3}]
        self.assertEqual(first_covering(snaps, 3)["commit"], 200)
        self.assertEqual(first_covering(snaps, 1)["commit"], 100)
        self.assertIsNone(first_covering(snaps, 5))


if __name__ == "__main__":
    unittest.main()
