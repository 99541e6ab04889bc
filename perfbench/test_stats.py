"""Tests of the benchmark's statistics code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        xs = [10, 20, 30, 40]
        self.assertEqual(stats.percentile(xs, 0), 10)
        self.assertEqual(stats.percentile(xs, 100), 40)
        self.assertAlmostEqual(stats.percentile(xs, 50), 25)
        self.assertAlmostEqual(stats.percentile(xs, 90), 37)

    def test_order_and_single_value(self):
        self.assertAlmostEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertEqual(stats.percentile([7], 90), 7)
        self.assertIsNone(stats.percentile([], 50))

    def test_quartile_spread_matches_statistics_quantiles(self):
        vs = [9.0, 10.0, 10.5, 11.0, 12.0, 10.2, 9.8, 10.1, 10.4, 9.9]
        q1, _, q3 = statistics.quantiles(vs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(vs), (q3 - q1) / statistics.median(vs))


class SelfTimeTest(unittest.TestCase):
    def test_parent_minus_children(self):
        spans = [(1, 0, "drain", 0.0, 100.0),
                 (2, 1, "job", 10.0, 30.0),
                 (3, 1, "job", 50.0, 60.0)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["drain"], 70.0)
        self.assertAlmostEqual(st["job"], 30.0)

    def test_overlapping_children_count_once(self):
        spans = [(1, 0, "read", 0.0, 100.0),
                 (2, 1, "job", 10.0, 50.0),
                 (3, 1, "job", 40.0, 70.0)]
        self.assertAlmostEqual(stats.self_times(spans)["read"], 40.0)

    def test_children_clipped_to_parent(self):
        spans = [(1, 0, "query", 0.0, 10.0),
                 (2, 1, "job", 5.0, 25.0)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["query"], 5.0)
        self.assertAlmostEqual(st["job"], 20.0)

    def test_same_name_sums(self):
        spans = [(1, 0, "put", 0.0, 2.0), (2, 0, "put", 5.0, 8.0)]
        self.assertAlmostEqual(stats.self_times(spans)["put"], 5.0)

    def test_union_length(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertEqual(stats.union_length([]), 0.0)


class FillRatioTest(unittest.TestCase):
    def test_fill_ratio(self):
        self.assertAlmostEqual(stats.fill_ratio(4000, 1000, 4), 1.0)
        self.assertAlmostEqual(stats.fill_ratio(1000, 1000, 4), 0.25)
        self.assertAlmostEqual(stats.fill_ratio(0, 1000, 4), 0.0)

    def test_trigger_stats(self):
        evs = [{"numInputRows": 4000, "durationMs": {"triggerExecution": 100, "addBatch": 60}},
               {"numInputRows": 2000, "durationMs": {"triggerExecution": 300, "addBatch": 80}},
               {"numInputRows": 0, "durationMs": {"triggerExecution": 200, "addBatch": 70}}]
        ts = stats.trigger_stats(evs, 1000, 4)
        self.assertEqual(ts["triggers"], 3)
        self.assertAlmostEqual(ts["fill_ratio"], 0.5)
        self.assertAlmostEqual(ts["empty_trigger_frac"], 1 / 3)
        self.assertAlmostEqual(ts["trigger_ms_p50"], 200)
        self.assertAlmostEqual(ts["add_batch_ms"], 70)
        self.assertEqual(ts["wal_ms"], 0)


class FreshnessTest(unittest.TestCase):
    PUTS = [(0, 0.0, 1.0, 2.0), (1, 100.0, 101.0, 102.0), (2, 200.0, 201.0, 202.0)]

    def test_whole_group_rule(self):
        self.assertEqual(stats.complete_groups([[0, 100], [1, 99], [2, 100]], 100), {0, 2})

    def test_first_read_showing_the_whole_group(self):
        reads = [(0.0, 150.0, "ok", [[0, 60]]),            # group 0 partly visible
                 (150.0, 300.0, "ok", [[0, 100], [1, 40]]),
                 (300.0, 450.0, "ok", [[0, 100], [1, 100], [2, 100]]),
                 (450.0, 600.0, "ok", [[0, 100], [1, 100], [2, 100]])]
        fresh, unseen = stats.freshness_ms(self.PUTS, reads, 100, (0.0, 1000.0))
        self.assertEqual(fresh, [300.0, 350.0, 250.0])
        self.assertEqual(unseen, 0)

    def test_failed_reads_do_not_count(self):
        reads = [(0.0, 50.0, "not_ready", []),
                 (50.0, 120.0, "error", [[0, 100]]),
                 (120.0, 400.0, "ok", [[0, 100], [1, 100]])]
        fresh, unseen = stats.freshness_ms(self.PUTS, reads, 100, (0.0, 1000.0))
        self.assertEqual(fresh, [400.0, 300.0])
        self.assertEqual(unseen, 1)

    def test_window_selects_groups_by_due_time(self):
        reads = [(0.0, 500.0, "ok", [[0, 100], [1, 100], [2, 100]])]
        fresh, unseen = stats.freshness_ms(self.PUTS, reads, 100, (100.0, 200.0))
        self.assertEqual(fresh, [400.0])
        self.assertEqual(unseen, 0)

    def test_visible_after(self):
        commits = [(1000.0, 4000), (2500.0, 4000), (4000.0, 2000)]
        self.assertEqual(stats.visible_after_ms(commits, 10000, 50), 2500.0)
        self.assertEqual(stats.visible_after_ms(commits, 10000, 40), 1000.0)
        self.assertEqual(stats.visible_after_ms(commits, 10000, 90), 4000.0)
        self.assertIsNone(stats.visible_after_ms(commits[:1], 10000, 50))


if __name__ == "__main__":
    unittest.main()
