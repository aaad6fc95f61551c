"""Pins the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_ten_samples_must_lie_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)  # 91..100 lie beyond
        self.assertIsNone(stats.percentile(xs[:99], 90))  # only 9 beyond
        self.assertIsNone(stats.percentile(xs, 99))

    def test_p99_needs_a_thousand(self):
        self.assertEqual(stats.percentile(range(1000), 99), 989)
        self.assertIsNone(stats.percentile(range(999), 99))
        self.assertEqual(stats.needed_samples(99), 1000)
        self.assertEqual(stats.needed_samples(90), 100)
        self.assertEqual(stats.needed_samples(50), 20)

    def test_order_of_input_does_not_matter(self):
        self.assertEqual(stats.percentile(list(range(100, 0, -1)), 90), 90)

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50))
        self.assertIsNone(stats.median([]))


class OpenLoopLatency(unittest.TestCase):
    def test_stall_is_charged_to_requests_queued_behind_it(self):
        # Due every 10 ms; the first read stalls 50 ms, so the next two
        # are sent late. From send time they look fast; from due time
        # they carry the wait the stall imposed.
        reads = [{"due": 0.00, "send": 0.00, "end": 0.05},
                 {"due": 0.01, "send": 0.05, "end": 0.06},
                 {"due": 0.02, "send": 0.06, "end": 0.07}]
        got = stats.due_latencies_ms(reads)
        for g, want in zip(got, [50.0, 50.0, 50.0]):
            self.assertAlmostEqual(g, want)
        late = stats.lateness_ms(reads)
        for g, want in zip(late, [0.0, 40.0, 40.0]):
            self.assertAlmostEqual(g, want)

    def test_early_send_is_not_negative_lateness(self):
        self.assertEqual(stats.lateness_ms([{"due": 1.0, "send": 0.999, "end": 1.0}]), [0.0])


class Ratios(unittest.TestCase):
    def test_ratio_carries_its_base(self):
        r = stats.ratio(3, 4)
        self.assertEqual((r["value"], r["num"], r["base"]), (0.75, 3, 4))

    def test_empty_base_is_not_a_silent_zero(self):
        self.assertIsNone(stats.ratio(5, 0)["value"])

    def test_printed_ratio_shows_num_and_base(self):
        line = run.render("streaming.batches_per_ack", stats.ratio(6, 3), "ratio")
        self.assertEqual(line, "streaming.batches_per_ack 2.0 ratio (6/3)")

    def test_every_ratio_metric_is_built_with_a_base(self):
        eng = {"progress": [{"query": "a", "batch": 0, "rows": 4, "state_rows": 1,
                             "state_bytes": 1, "state_commit_ms": 1,
                             "duration_ms": {"triggerExecution": 5}}]}
        layer = run.streaming_layer(eng, acks=2)
        for name in ("streaming.batches_per_ack", "streaming.rows_per_batch"):
            self.assertEqual(set(layer[name]), {"value", "num", "base"})


class SelfTime(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        spans = [{"id": 1, "parent": 0, "name": "p", "start_ns": 0, "end_ns": 10},
                 {"id": 2, "parent": 1, "name": "c", "start_ns": 2, "end_ns": 4},
                 {"id": 3, "parent": 1, "name": "c", "start_ns": 3, "end_ns": 6}]
        st = stats.self_times(spans)
        self.assertEqual(st["p"][0], 1)
        self.assertAlmostEqual(st["p"][1], 6e-9)
        self.assertEqual(st["c"][0], 2)
        self.assertAlmostEqual(st["c"][1], 5e-9)


if __name__ == "__main__":
    unittest.main()
