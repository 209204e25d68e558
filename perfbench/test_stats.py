"""Hand-worked cases for the benchmark's pure parts.

    python3 perfbench/test_stats.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import (lateness_us, offset_ranges, parent_span, percentile,  # noqa: E402
                   record_latencies_ms, self_time, union_length)


class PercentileTest(unittest.TestCase):
    # the nearest-rank example: five values, rank = ceil(p/100 * 5)
    VALUES = [35, 20, 50, 15, 40]

    def test_nearest_rank(self):
        self.assertEqual(percentile(self.VALUES, 5), 15)    # rank ceil(0.25) = 1
        self.assertEqual(percentile(self.VALUES, 30), 20)   # rank ceil(1.5) = 2
        self.assertEqual(percentile(self.VALUES, 40), 20)   # rank 2 exactly
        self.assertEqual(percentile(self.VALUES, 50), 35)   # rank ceil(2.5) = 3
        self.assertEqual(percentile(self.VALUES, 90), 50)   # rank ceil(4.5) = 5
        self.assertEqual(percentile(self.VALUES, 100), 50)

    def test_p90_of_ten_is_the_ninth(self):
        self.assertEqual(percentile(list(range(1, 11)), 90), 9)

    def test_p0_is_the_minimum_and_empty_fails(self):
        self.assertEqual(percentile([3, 1, 2], 0), 1)
        with self.assertRaises(ValueError):
            percentile([], 50)


class OffsetMappingTest(unittest.TestCase):
    # offsets as a progress event carries them: {"startOffset": ..., "endOffset": ...}
    EVENT = json.loads('{"sources": [{"startOffset": {"s0": 4, "s1": 2},'
                       ' "endOffset": {"s0": 9, "s1": 2}}]}')

    def test_first_batch_has_no_start(self):
        self.assertEqual(offset_ranges(None, {"s0": 4, "s1": 2}),
                         {"s0": (-1, 4), "s1": (-1, 2)})

    def test_event_offsets(self):
        src = self.EVENT["sources"][0]
        self.assertEqual(offset_ranges(src["startOffset"], src["endOffset"]),
                         {"s0": (4, 9), "s1": (2, 2)})

    def test_records_a_batch_committed(self):
        # 1000 records/s from t0 = 0: record i is due at i ms. s0 carries
        # records 0 and 2, s1 carries record 1.
        seqs = {"s0": [0, 2], "s1": [1]}
        first = (10_000, offset_ranges(None, {"s0": 1, "s1": 0}))
        # nothing new on either stream: no records, no latencies
        second = (12_000, offset_ranges({"s0": 1, "s1": 0}, {"s0": 1, "s1": 0}))
        self.assertEqual(record_latencies_ms(0, 1000, seqs, [first, second]),
                         [10.0, 8.0, 9.0])

    def test_later_batch_starts_after_its_start_offset(self):
        seqs = {"s0": [0, 1, 2, 3]}
        batch = (5_000, offset_ranges({"s0": 1}, {"s0": 3}))  # seqs 2 and 3
        self.assertEqual(record_latencies_ms(0, 1000, seqs, [batch]), [3.0, 2.0])


class SelfTimeTest(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(union_length([(10, 30), (20, 50), (60, 70)]), 50)
        self.assertEqual(union_length([(0, 10), (10, 20)]), 20)   # touching
        self.assertEqual(union_length([(0, 100), (10, 20)]), 100)  # nested
        self.assertEqual(union_length([(5, 5), (7, 3)]), 0)        # empty

    def test_overlapping_children_count_once(self):
        # [10,30] and [20,50] cover 40 together, not 50
        self.assertEqual(self_time(0, 100, [(10, 30), (20, 50)]), 60)

    def test_children_are_clipped_to_the_span(self):
        # [90,120] covers only 10 of the span; [150,160] none of it
        self.assertEqual(self_time(0, 100, [(10, 30), (20, 50), (90, 120), (150, 160)]), 50)

    def test_no_children(self):
        self.assertEqual(self_time(5, 9, []), 4)

    def test_job_parent(self):
        spans = [(1, 0, 100), (2, 10, 50), (3, 60, 90)]
        self.assertEqual(parent_span(20, 0, spans), 2)   # innermost open span
        self.assertEqual(parent_span(55, 0, spans), 1)
        self.assertEqual(parent_span(20, 3, spans), 3)   # the local property wins
        self.assertEqual(parent_span(200, 0, spans), 0)  # outside every span


class LatenessTest(unittest.TestCase):
    def test_open_loop_schedule(self):
        # 4 records/s from t0 = 1 s: due at 1.00, 1.25, 1.50 s. The first two
        # landed together at 1.30 s, the third at 1.60 s.
        late = lateness_us(1_000_000, 4, [(0, 2, 1_300_000), (2, 1, 1_600_000)])
        self.assertEqual(late, [300_000, 50_000, 100_000])
        self.assertEqual(max(late), 300_000)

    def test_on_time_generator_is_never_late(self):
        self.assertEqual(lateness_us(0, 2, [(0, 1, 0), (1, 1, 500_000)]), [0, 0])


if __name__ == "__main__":
    unittest.main()
