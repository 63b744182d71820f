"""Self-tests for the benchmark's arithmetic:
    python3 -m unittest discover -s perfbench -p 'test_*.py'"""

import json
import unittest
from pathlib import Path

import metrics as m
import run


class Percentiles(unittest.TestCase):
    def test_interpolates(self):
        self.assertEqual(m.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(m.percentile([5], 95), 5)

    def test_tail_leaves_ten_samples_beyond(self):
        self.assertEqual(m.tail(list(range(200)))[0], 95)
        self.assertEqual(m.tail(list(range(199)))[0], 90)
        self.assertEqual(m.tail(list(range(100)))[0], 90)
        self.assertEqual(m.tail(list(range(99)))[0], 75)
        self.assertEqual(m.tail(list(range(40)))[0], 75)
        self.assertEqual(m.tail(list(range(20)))[0], 50)
        self.assertEqual(m.tail(list(range(19))), (None, None, 19))


class ServiceRate(unittest.TestCase):
    def test_between_first_and_last_completion_in_window(self):
        # 4 completions in 1.5 s inside the window; the one at 9000 is run-out
        self.assertAlmostEqual(m.service_rate([2500, 1000, 2000, 1500, 9000], 5000), 3 / 1.5)

    def test_needs_two_completions(self):
        with self.assertRaises(ValueError):
            m.service_rate([1000, 9000], 5000)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        spans = [(1, "root", 0, -1, 0.0, 100.0),
                 (2, "a", 1, -1, 10.0, 50.0),
                 (3, "b", 1, -1, 40.0, 70.0),   # overlaps a by 10
                 (4, "c", 1, -1, 90.0, 120.0)]  # runs past the parent
        st = m.self_times(spans)
        self.assertAlmostEqual(st[1], 100 - 60 - 10)
        self.assertAlmostEqual(st[2], 40)
        self.assertAlmostEqual(st[4], 30)

    def test_grandchildren_do_not_count_against_root(self):
        spans = [(1, "root", 0, -1, 0.0, 10.0), (2, "a", 1, -1, 0.0, 4.0),
                 (3, "b", 2, -1, 0.0, 4.0)]
        st = m.self_times(spans)
        self.assertAlmostEqual(st[1], 6)
        self.assertAlmostEqual(st[2], 0)


class DriverGap(unittest.TestCase):
    def test_gap_from_job_intervals(self):
        jobs = [(10, 20), (15, 30), (50, 60), (95, 200), (-5, 2)]
        self.assertAlmostEqual(m.driver_gap(0, 100, jobs), 100 - (2 + 20 + 10 + 5))

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(m.driver_gap(3, 7, []), 4)


class CommitLatency(unittest.TestCase):
    def test_each_publish_timed_from_its_call_or_the_previous_publish(self):
        calls = [(0, 10), (20, 40)]
        pubs = [(4, "t"), (9, "u"), (25, "t"), (31, "t")]
        self.assertEqual(m.commit_latencies(pubs, calls),
                         [("t", 4), ("u", 5), ("t", 5), ("t", 6)])

    def test_publish_outside_every_call_fails(self):
        with self.assertRaises(ValueError):
            m.commit_latencies([(15, "t")], [(0, 10), (20, 40)])


class StoreBytes(unittest.TestCase):
    def test_hard_links_not_double_counted(self):
        # inode 7 is linked into the old and the new version
        listing = [(7, 100, False), (7, 100, True), (8, 50, False), (9, 30, True)]
        self.assertAlmostEqual(m.space_amp(listing), (100 + 50 + 30) / (100 + 30))

    def test_new_inode_bytes_skip_links_of_old_files(self):
        before = [(7, 100, True)]
        after = [(7, 100, False), (7, 100, True), (9, 30, True), (9, 30, True)]
        self.assertEqual(m.new_inode_bytes(before, after), (30, 1))


class Contract(unittest.TestCase):
    def test_benchmark_json_names_the_metrics_run_py_prints(self):
        spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        self.assertEqual({x["name"]: x["unit"] for x in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({x["name"]: x["unit"] for x in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
