"""Tests of the runner's pure helpers: python3 -m unittest discover perfbench"""
import unittest

import checks
import stats


class TailTest(unittest.TestCase):
    def test_p90_when_ten_samples_lie_beyond(self):
        values = list(range(1, 201))  # p90 = 180, 20 samples beyond
        self.assertEqual(stats.tail(values, 0.9), (180, 0.9))

    def test_falls_back_to_highest_percentile_with_ten_beyond(self):
        values = list(range(1, 51))  # p90 = 45 has only 5 beyond
        value, level = stats.tail(values, 0.9)
        self.assertEqual(value, 40)
        self.assertEqual(level, 0.8)
        self.assertEqual(sum(v > value for v in values), 10)

    def test_ties_do_not_count_as_beyond(self):
        values = [1] * 5 + [2] * 100 + list(range(3, 13))  # ten distinct values above 2
        value, _ = stats.tail(values, 0.99)
        self.assertEqual(value, 2)

    def test_too_few_samples_gives_median_without_level(self):
        self.assertEqual(stats.tail([1, 2, 3], 0.9), (2, None))

    def test_groups_count_distinct_batches_beyond(self):
        # 100 records from 5 batches: every record beyond p90 shares few batches
        values = [float(i) for i in range(100)]
        groups = [i // 20 for i in range(100)]
        value, level = stats.tail(values, 0.9, groups=groups)
        self.assertIsNone(level)
        many = [i % 50 for i in range(100)]
        self.assertEqual(stats.tail(values, 0.9, groups=many)[1], 0.9)


class MedianTest(unittest.TestCase):
    def test_incomplete_beta_known_values(self):
        self.assertAlmostEqual(stats.betainc(2, 3, 0.4), 0.5248, places=10)
        self.assertAlmostEqual(stats.betainc(5.5, 5.5, 0.5), 0.5, places=12)

    def test_hd_median_of_symmetric_sample_is_its_centre(self):
        self.assertAlmostEqual(stats.hd_median([1, 2, 3]), 2.0)
        self.assertAlmostEqual(stats.hd_median([4, 1, 3, 2]), 2.5)

    def test_hd_median_moves_less_than_median_on_a_rank_swap(self):
        a = [0.4, 0.45, 0.5, 0.55, 0.9, 1.0, 1.1]
        b = [0.4, 0.45, 0.5, 0.95, 0.9, 1.0, 1.1]  # one item jumps across the gap
        self.assertGreater(abs(stats.median(b) - stats.median(a)), 0.3)
        self.assertLess(abs(stats.hd_median(b) - stats.hd_median(a)), 0.15)


class EventLatencyTest(unittest.TestCase):
    def test_latency_runs_from_due_time_to_covering_commit(self):
        calls = [{"offset": 5, "first_seq": 0, "count": 2}, {"offset": 6, "first_seq": 2, "count": 1}]
        batches = [{"end_offset": 5, "end_ms": 150.0}, {"end_offset": 6, "end_ms": 400.0}]
        lat = stats.event_latencies(calls, lambda seq: 100.0 + 10 * seq, batches)
        self.assertEqual([x for x, _ in lat], [50.0, 40.0, 280.0])
        self.assertEqual(len({b for _, b in lat}), 2)

    def test_late_send_does_not_hide_waiting(self):
        # a record due at 0 but sent late still counts from 0
        lat = stats.event_latencies([{"offset": 0, "first_seq": 0, "count": 1}],
                                    lambda seq: 0.0, [{"end_offset": 3, "end_ms": 900.0}])
        self.assertEqual(lat[0][0], 900.0)

    def test_idle_progress_does_not_move_commit_later(self):
        batches = [{"end_offset": 2, "end_ms": 500.0}, {"end_offset": 2, "end_ms": 9000.0}]
        lat = stats.event_latencies([{"offset": 1, "first_seq": 0, "count": 1}], lambda s: 0.0, batches)
        self.assertEqual(lat[0][0], 500.0)

    def test_uncommitted_records_are_left_out(self):
        lat = stats.event_latencies([{"offset": 9, "first_seq": 0, "count": 3}], lambda s: 0.0,
                                    [{"end_offset": 4, "end_ms": 10.0}])
        self.assertEqual(lat, [])


def span(id_, parent, layer, start, end):
    return {"id": id_, "parent": parent, "layer": layer, "start_ms": start, "end_ms": end}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [span("e", None, "entry", 0, 100),
                 span("c", "e", "operators", 10, 40),
                 span("x", "e", "exec", 30, 90),   # overlaps c: union is 10..90
                 span("j", "x", "exec", 35, 95)]   # clipped to its parent's end
        self.assertEqual(stats.self_times(spans), {"entry": 20.0, "operators": 30.0, "exec": 60.0 - 55.0 + 60.0})

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span("s", "j", "exec", 5, 7)]), {"exec": 2.0})


class LatestPerKeyTest(unittest.TestCase):
    def test_last_arrival_wins_equal_ts_and_marks_tie(self):
        best, tied = checks.latest_per_key([(0, "a", "x", 5), (1, "a", "y", 5), (2, "b", "z", 1),
                                            (3, "b", "w", 0)])
        self.assertEqual(best, {"a": ("y", 5), "b": ("z", 1)})
        self.assertEqual(tied, {"a"})

    def test_later_ts_clears_tie(self):
        _, tied = checks.latest_per_key([(0, "a", "x", 5), (1, "a", "y", 5), (2, "a", "y", 6)])
        self.assertEqual(tied, set())


if __name__ == "__main__":
    unittest.main()
