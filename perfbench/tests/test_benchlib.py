"""Tests of the benchmark's own metric logic (no Spark needed):
    python3 -m unittest discover -s perfbench/tests"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchlib  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(benchlib.tail_percentile(100), 90)
        self.assertEqual(benchlib.tail_percentile(120), 91)
        self.assertEqual(benchlib.tail_percentile(40), 75)
        self.assertEqual(benchlib.tail_percentile(1000), 99)
        for n in range(20, 400):
            p = benchlib.tail_percentile(n)
            self.assertGreaterEqual(n * (100 - p) / 100, 10 - 1e-9, n)
            self.assertLess(n * (100 - (p + 1)) / 100, 10, n)

    def test_small_samples_fall_back_to_the_median(self):
        for n in (1, 5, 11, 19):
            self.assertEqual(benchlib.tail_percentile(n), 50)
        with self.assertRaises(ValueError):
            benchlib.tail_percentile(0)

    def test_tail_value_interpolates(self):
        xs = list(range(1, 101))  # 1..100
        p, v = benchlib.tail(xs)
        self.assertEqual(p, 90)
        self.assertAlmostEqual(v, 90.1)
        self.assertEqual(benchlib.quantile([3, 1, 2], 0.5), 2)
        self.assertEqual(benchlib.quantile([7], 0.9), 7)


class FailureShare(unittest.TestCase):
    def test_share(self):
        self.assertEqual(benchlib.failure_share(10, 0), 0.0)
        self.assertEqual(benchlib.failure_share(8, 2), 0.25)
        with self.assertRaises(ValueError):
            benchlib.failure_share(0, 0)
        with self.assertRaises(ValueError):
            benchlib.failure_share(3, 4)

    def test_an_op_failing_twice_counts_once(self):
        ops = [{"cell": "a", "ok": True}, {"cell": "b", "ok": False},
               {"cell": "c", "ok": True}, {"cell": "c", "ok": False}]
        # "c" also mismatched its oracle: both its ops fail, one of them twice over
        self.assertEqual(benchlib.count_failed(ops, bad_cells=["c"]), 3)
        self.assertEqual(benchlib.count_failed(ops), 2)


class SelfTime(unittest.TestCase):
    def test_children_overlap_and_overhang(self):
        # children cover [1,5] and [8,10] of the span [0,10]
        self.assertEqual(benchlib.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 4)

    def test_no_children_and_disjoint_children(self):
        self.assertEqual(benchlib.self_time((0, 10), []), 10)
        self.assertEqual(benchlib.self_time((0, 10), [(11, 12), (-5, -1)]), 10)
        self.assertEqual(benchlib.self_time((0, 10), [(-1, 20)]), 0)


class ArrivalLag(unittest.TestCase):
    def source_log(self, d, entries_by_file):
        for name, entries in entries_by_file.items():
            with open(os.path.join(d, name), "w") as f:
                f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))

    def test_file_to_batch_to_commit(self):
        with tempfile.TemporaryDirectory() as d:
            e = lambda f, b: {"path": f"file:///x/dropbox/{f}", "timestamp": 0, "batchId": b}
            # batches 0..9 folded into a compact file, 10 and 11 plain; the
            # compact file's entries are the same as the deleted originals
            self.source_log(d, {"9.compact": [e(f"f{b}", b) for b in range(10)],
                                "10": [e("f10", 10), e("f11", 10)], "11": [e("f12", 11)],
                                ".10.crc": []})
            fb = benchlib.read_source_log(d)
            self.assertEqual(fb["f3"], 3)
            self.assertEqual(fb["f11"], 10)
            prog = [{"batch": 10, "trigger_start_ms": 1000,
                     "durations_ms": {"triggerExecution": 500, "commitOffsets": 100}},
                    {"batch": 11, "trigger_start_ms": 2000,
                     "durations_ms": {"triggerExecution": 300}}]
            arrivals = [{"file": "f10", "due": 900_000}, {"file": "f11", "due": 950_000},
                        {"file": "f12", "due": 1_500_000}, {"file": "f13", "due": 1_600_000}]
            lags, missing = benchlib.arrival_lags(arrivals, fb, prog)
            # batch 10 commits at 1000 + 500 - 100 ms; batch 11 at 2300 ms
            self.assertEqual(lags, [0.5, 0.45, 0.8])
            self.assertEqual(missing, ["f13"])

    def test_backlog(self):
        fb = {"a": 1, "b": 1, "c": 2}
        prog = {1: {"trigger_start_ms": 0, "durations_ms": {"triggerExecution": 10}},
                2: {"trigger_start_ms": 20, "durations_ms": {"triggerExecution": 10}}}
        arrivals = [{"file": "a", "renamed": 1000}, {"file": "b", "renamed": 2000},
                    {"file": "c", "renamed": 15000}]
        # a and b wait together until 10 ms; c alone until 30 ms
        self.assertEqual(benchlib.backlog_max(arrivals, fb, prog), 2)


if __name__ == "__main__":
    unittest.main()
