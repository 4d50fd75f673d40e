"""Tests for the benchmark's own arithmetic.

Run from the repository root:  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def span(id, span_name, start, end, parent=-1, **attrs):
    return {"id": id, "parent": parent, "op": id if parent < 0 else parent, "name": span_name,
            "start_ms": start, "end_ms": end, "attrs": attrs}


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(list(range(1, 101))), (90.0, 90))
        self.assertEqual(metrics.tail_percentile(list(range(1, 1001)))[0], 99.0)
        self.assertEqual(metrics.tail_percentile(list(range(1, 10001)))[0], 99.9)

    def test_just_enough_and_too_few_samples(self):
        self.assertEqual(metrics.tail_percentile(list(range(20))), (50.0, 9))
        self.assertIsNone(metrics.tail_percentile(list(range(19))))
        self.assertIsNone(metrics.tail_percentile([]))

    def test_unsorted_input(self):
        self.assertEqual(metrics.tail_percentile([5.0] * 10 + [1.0] * 10), (50.0, 1.0))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # [1,4] and [3,6] overlap (5 covered), [8,12] is clipped to [8,10]
        self.assertEqual(metrics.self_time(0, 10, [(1, 4), (3, 6), (8, 12)]), 3)

    def test_nested_and_outside_children(self):
        self.assertEqual(metrics.self_time(0, 10, [(2, 8), (3, 4), (11, 15)]), 4)
        self.assertEqual(metrics.self_time(0, 10, []), 10)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)


class ParallelEfficiencyTest(unittest.TestCase):
    def test_ratio(self):
        self.assertAlmostEqual(metrics.parallel_efficiency(6.0, 2.0, 4), 0.75)
        self.assertAlmostEqual(metrics.parallel_efficiency(2.0, 2.0, 4), 0.25)

    def test_zero_wall(self):
        self.assertEqual(metrics.parallel_efficiency(1.0, 0.0, 4), 0.0)


class AttributionTest(unittest.TestCase):
    def test_events_go_to_the_interval_holding_them(self):
        events = [{"start_ms": t} for t in (5, 11, 12, 20, 21, -1)]
        got = metrics.attribute(events, [(12, 20, "b"), (0, 10, "a")])
        self.assertEqual({k: [e["start_ms"] for e in v] for k, v in got.items()},
                         {"a": [5], "b": [12, 20]})

    def test_per_layer_spark_attribution(self):
        raw = {
            "cores": 4, "info": {},
            "spans": [
                span(0, "op", 0, 1000, name="q", kind="batch", phase="timed", mix=0,
                     items=1, ok=True, tmp_leaked=0),
                span(1, "op", 2000, 3000, name="q", kind="batch", phase="traced", mix=1,
                     items=1, ok=True, tmp_leaked=1),
                span(2, "construct", 2000, 2400, parent=1, step="q"),
                span(3, "action", 2400, 3000, parent=1, step="q"),
            ],
            "spark_events": {
                # one job in the construct span, one in the action, one
                # before tracing began (belongs to the untraced op)
                "jobs": [{"id": 0, "start_ms": 100, "end_ms": 900},
                         {"id": 1, "start_ms": 2100, "end_ms": 2300},
                         {"id": 2, "start_ms": 2500, "end_ms": 2900}],
                "stages": [dict(id=i, attempt=0, start_ms=s, end_ms=e, num_tasks=n,
                                tasks=n, failed=False, run_ms=r, cpu_ns=r * 1000000,
                                gc_ms=0, input_bytes=0, shuffle_write_bytes=1048576,
                                shuffle_read_bytes=0, spill_bytes=0)
                           for i, s, e, n, r in ((0, 100, 900, 4, 3000),
                                                 (1, 2100, 2300, 1, 200),
                                                 (2, 2500, 2900, 4, 1400))],
            },
            "stream_progress": [],
        }
        m = metrics.per_layer(raw)
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["spark.construct_jobs"], 1)
        self.assertEqual(m["spark.tasks"], 5)
        self.assertAlmostEqual(m["spark.single_task_stage_s"], 0.2)
        self.assertAlmostEqual(m["spark.executor_run_s"], 1.6)
        # 1.6 s of executor time over a 1 s op on 4 cores
        self.assertAlmostEqual(m["spark.parallel_efficiency"], 0.4)
        self.assertAlmostEqual(m["spark.shuffle_write_mb"], 2.0)
        self.assertEqual(m["batch.tmp_leaked"], 1)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.0)


class EndToEndTest(unittest.TestCase):
    def test_mix_is_sum_of_per_op_medians(self):
        spans = [span(i, "op", t, t + w, name=n, kind="batch", phase="timed", mix=i // 2,
                      items=10, ok=True, tmp_leaked=0)
                 for i, (n, t, w) in enumerate([("a", 0, 1000), ("b", 1000, 3000),
                                                ("a", 4000, 2000), ("b", 6000, 1000),
                                                ("a", 7000, 3000), ("b", 10000, 2000)])]
        spans.append(span(6, "op", 12000, 12500, name="c", kind="stream", phase="timed",
                          mix=0, items=0, ok=True, tmp_leaked=0))
        m = metrics.end_to_end({"spans": spans, "setup_s": 5.0, "peak_rss_kb": 2048})
        self.assertAlmostEqual(m["mix_s"], 4.5)
        # 10 + 10 items over the 2 s + 2 s median walls of a and b; c carries none
        self.assertAlmostEqual(m["items_per_s"], 5.0)
        self.assertEqual(m["peak_rss_mb"], 2.0)


if __name__ == "__main__":
    unittest.main()
