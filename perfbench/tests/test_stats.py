"""Self-tests for the benchmark's arithmetic.

    python3 -m unittest discover perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class OpenLoopTest(unittest.TestCase):
    def test_latency_counts_from_due_time_not_send_time(self):
        # the generator stalled 2 s before the second request: its latency
        # includes the stall, and the lag report shows it
        due = [0.0, 1.0, 2.0]
        sent = [0.0, 3.0, 3.1]
        done = [0.5, 3.5, 3.6]
        latency, lag = stats.open_loop(due, sent, done)
        self.assertEqual(latency, [0.5, 2.5, 1.6])
        self.assertAlmostEqual(lag[1], 2.0)
        self.assertAlmostEqual(lag[2], 1.1)
        self.assertEqual(lag[0], 0.0)

    def test_early_send_is_not_negative_lag(self):
        self.assertEqual(stats.open_loop([1.0], [0.9], [2.0])[1], [0.0])

    def test_schedule_starts_after_a_trigger_boundary(self):
        due = run.stream_schedule(1000.5, 3)
        self.assertAlmostEqual(due[0], 1010.25)
        self.assertAlmostEqual(due[1] - due[0], 1 / run.STREAM_RATE)
        # a boundary less than half a second away is skipped
        self.assertAlmostEqual(run.stream_schedule(1009.6, 1)[0], 1020.25)

    def test_stream_window_stays_inside_one_trigger_period(self):
        n = int(run.STREAM_RATE * (10 - 0.4))
        due = run.stream_schedule(1000.0, n)
        self.assertLess(due[-1], 1020.0)


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(24), 58)
        self.assertIsNone(stats.tail_percentile(10))

    def test_ten_samples_lie_beyond_the_reported_percentile(self):
        for n in (11, 24, 99, 100, 250):
            p = stats.tail_percentile(n)
            values = list(range(n))
            cut = stats.nearest_rank(values, p / 100)
            self.assertGreaterEqual(sum(1 for v in values if v > cut), 10, n)

    def test_summary_states_the_sample_count(self):
        s = stats.summary([float(i) for i in range(1, 101)])
        self.assertEqual((s["p50"], s["n"], s["tail_pct"], s["tail"]),
                         (50.5, 100, 90, 90.0))

    def test_summary_reports_no_tail_for_few_samples(self):
        s = stats.summary([1.0] * 10)
        self.assertEqual((s["n"], s["tail_pct"], s["tail"]), (10, None, None))


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
            {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps 1
            {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
            {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past 0
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 10.0 - 4.0 - 1.0)
        self.assertEqual(st[1], 2.0)
        self.assertEqual(st[2], 2.0)
        self.assertEqual(st[3], 1.0)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0.0)

    def test_batch_spans_reconcile_with_trigger_durations(self):
        spans = [{"key": "0", "start": 0.0, "end": 1000.0},
                 {"key": "1", "start": 0.0, "end": 1000.0}]
        batches = [
            {"batchId": 0, "durationMs": {"triggerExecution": 1100,
                                          "addBatch": 1010}},
            {"batchId": 1, "durationMs": {"triggerExecution": 900,
                                          "addBatch": 850}},
        ]
        self.assertEqual(metrics.unreconciled(spans, batches), 1)


class CheckpointTest(unittest.TestCase):
    def write(self, path, text, mtime=None):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
        if mtime is not None:
            os.utime(path, (mtime, mtime))

    def entry(self, name, batch):
        return json.dumps({"path": f"file:///w/{name}", "timestamp": 1,
                           "batchId": batch}) + "\n"

    def test_files_map_to_the_batch_that_committed_them(self):
        with tempfile.TemporaryDirectory() as ck:
            src = os.path.join(ck, "sources", "0")
            self.write(os.path.join(src, "0"),
                       "v1\n" + self.entry("a.emd", 0) + self.entry("b.emd", 0))
            # a compacted log repeats earlier entries with their own ids
            self.write(os.path.join(src, "1.compact"),
                       "v1\n" + self.entry("a.emd", 0) + self.entry("b.emd", 0)
                       + self.entry("c.emd", 1))
            self.write(os.path.join(src, "2"), "v1\n" + self.entry("d.emd", 2))
            self.write(os.path.join(src, ".2.tmp"), "v1\n" + self.entry("x.emd", 2))
            self.write(os.path.join(ck, "commits", "0"), "v1\n{}", mtime=100.0)
            self.write(os.path.join(ck, "commits", "1"), "v1\n{}", mtime=200.0)
            # batch 2 never committed: its file is missing, not mapped
            batches = stats.checkpoint_batches(ck)
            self.assertEqual(batches[0]["files"], ["a.emd", "b.emd"])
            self.assertEqual(batches[1]["files"], ["c.emd"])
            self.assertNotIn(2, batches)
            self.assertEqual(stats.file_commits(ck),
                             {"a.emd": 100.0, "b.emd": 100.0, "c.emd": 200.0})


class FamilyTest(unittest.TestCase):
    def test_family_is_the_name_prefix_without_digits(self):
        self.assertEqual(metrics.family("q6_region_join"), "q")
        self.assertEqual(metrics.family("st1_stream_windows"), "st")
        self.assertEqual(metrics.family("q62_time_slice"), "q")
        self.assertEqual(metrics.family("er1_entity_resolution"), "er")
        names = [metrics.family(q) for q in run.QUERIES]
        self.assertEqual(sorted(names), sorted(metrics.FAMILIES))


if __name__ == "__main__":
    unittest.main()
