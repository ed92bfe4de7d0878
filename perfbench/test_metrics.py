"""Tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import metrics as M


class TailTest(unittest.TestCase):
    def test_200_samples_give_p95_with_ten_beyond(self):
        xs = list(range(1, 201))
        self.assertEqual(M.tail(xs), (95.0, 190))
        self.assertEqual(M.nearest_rank(sorted(xs), 95.0), (190, 10))

    def test_177_samples_give_p90(self):
        # p95 leaves 177 - 169 = 8 samples beyond it, p90 leaves 17
        p, v = M.tail(list(range(177)))
        self.assertEqual(p, 90.0)
        self.assertEqual(v, 159)

    def test_40_samples_give_p75(self):
        self.assertEqual(M.tail(list(range(40)))[0], 75.0)

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(M.tail([3.0, 1.0, 2.0]), (100.0, 3.0))

    def test_order_does_not_matter(self):
        xs = [float(i % 17) for i in range(300)]
        self.assertEqual(M.tail(xs), M.tail(sorted(xs)))


class ShardLatencyTest(unittest.TestCase):
    def test_cumulative_rows_map_to_shard_prefixes(self):
        due = [0, 100, 200, 300]
        rows = [10, 10, 10, 10]
        # batch 1 reads the first two shards, batch 2 the other two
        batches = [(1000, 1500, 20), (1600, 2600, 20)]
        self.assertEqual(M.shard_latencies(due, rows, batches), [1.5, 1.4, 2.4, 2.3])

    def test_batches_are_taken_in_start_order_and_empty_ones_skipped(self):
        due = [0, 0]
        rows = [5, 5]
        batches = [(300, 400, 5), (100, 200, 0), (500, 900, 5)]
        self.assertEqual(M.shard_latencies(due, rows, batches), [0.4, 0.9])

    def test_a_batch_that_ends_mid_shard_does_not_cover_it(self):
        due = [0, 0]
        rows = [10, 10]
        batches = [(0, 1000, 15), (1000, 3000, 5)]
        self.assertEqual(M.shard_latencies(due, rows, batches), [1.0, 3.0])

    def test_uncovered_shards_are_none(self):
        self.assertEqual(M.shard_latencies([0, 0], [10, 10], [(0, 500, 10)]), [0.5, None])


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        self.assertEqual(M.self_time((0, 10), [(1, 4), (3, 6)]), 5)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(M.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_disjoint_children_and_empty(self):
        self.assertEqual(M.self_time((0, 10), [(1, 2), (5, 7)]), 7)
        self.assertEqual(M.self_time((0, 10), []), 10)
        self.assertEqual(M.self_time((0, 10), [(11, 12)]), 10)

    def test_union_length(self):
        self.assertEqual(M.union_length([(0, 2), (1, 3), (5, 6), (6, 7)]), 5)


class FailedShareTest(unittest.TestCase):
    def test_sums_failed_over_attempted_across_checks(self):
        checks = [{"attempted": 1000, "failed": 0}, {"attempted": 10, "failed": 2},
                  {"attempted": 90, "failed": 0}]
        self.assertEqual(M.failed_share(checks), (2, 1100, 2 / 1100))

    def test_no_attempts_count_as_failure(self):
        self.assertEqual(M.failed_share([]), (0, 0, 1.0))


if __name__ == "__main__":
    unittest.main()
