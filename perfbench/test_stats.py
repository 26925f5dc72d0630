"""Self-tests for the benchmark's pure math and output checks.

    python3 perfbench/test_stats.py
"""
import hashlib
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99.9), 7)

    def test_tail_keeps_ten_samples_beyond(self):
        # the highest ladder percentile with >= 10 samples ranked above it
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(96), 75)    # p90 would leave 9
        self.assertEqual(stats.tail_percentile(100), 90)   # p90 leaves exactly 10
        self.assertEqual(stats.tail_percentile(5000), 99)  # p99.9 would leave 5
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        for n in (20, 96, 100, 999, 5000, 123456):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n - stats.rank(n, p), stats.TAIL_MIN_BEYOND)

    def test_tail_value(self):
        p, v = stats.tail(list(range(1, 101)))
        self.assertEqual((p, v), (90, 90))
        self.assertEqual(stats.tail([1, 2, 3]), (None, None))


class Intervals(unittest.TestCase):
    def test_union_merges_overlap_touch_and_nesting(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4), (5, 6)]),
                         [(0, 4), (5, 7)])
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (9, 12)]), 12)
        self.assertEqual(stats.union_length([]), 0)

    def test_clip(self):
        self.assertEqual(stats.clip([(-5, 2), (3, 4), (8, 20), (30, 40)], 0, 10),
                         [(0, 2), (3, 4), (8, 10)])

    def test_driver_gap_is_wall_minus_job_union(self):
        # jobs overlap each other and run past the wall: counted once, clipped
        self.assertEqual(stats.driver_gap((0, 10), [(2, 4), (3, 6), (8, 12)]), 4)
        self.assertEqual(stats.driver_gap((0, 10), []), 10)
        self.assertEqual(stats.driver_gap((0, 10), [(0, 10)]), 0)

    def test_self_time(self):
        # children outside the parent do not count against it
        self.assertEqual(stats.self_time((10, 20), [(0, 5), (12, 14), (13, 15), (19, 25)]), 6)
        self.assertEqual(stats.self_time((0, 1), []), 1)

    def test_self_times_sum_to_root(self):
        spans = [[1, -1, "workload", 0, 100], [2, 1, "pass", 10, 90],
                 [3, 2, "q", 10, 50], [4, 3, "job", 20, 30]]
        self_s = metrics._self_times([[i, p, n, s * metrics.NS, e * metrics.NS]
                                      for i, p, n, s, e in spans])
        self.assertAlmostEqual(sum(self_s.values()), 100)
        self.assertEqual(self_s, {"workload": 20, "pass": 40, "q": 30, "job": 10})


class OutputChecks(unittest.TestCase):
    N, D, DI, DX = metrics.NEW, metrics.DUP, metrics.DUP_IN_INCREMENT, metrics.DUP_OF_INDEX

    def test_facade_wants_one_new_per_distinct_text(self):
        texts = ["a", "b", "a", "a"]
        fin = [1, 1, 1, 1]
        ok = [self.D, self.N, self.N, self.D]
        self.assertEqual(metrics._misclassified(texts, fin, ok, [0] * 4, streamed=False), 0)
        two_new = [self.N, self.N, self.N, self.D]
        self.assertEqual(metrics._misclassified(texts, fin, two_new, [0] * 4, streamed=False), 1)

    def test_stream_follows_batch_order(self):
        texts = ["a", "a", "b", "a"]
        fin = [1, 1, 1, 1]
        batch = [0, 0, 1, 2]
        ok = [self.N, self.DI, self.N, self.DX]
        self.assertEqual(metrics._misclassified(texts, fin, ok, batch, streamed=True), 0)
        wrong = [self.DI, self.N, self.N, self.N]
        self.assertEqual(metrics._misclassified(texts, fin, wrong, batch, streamed=True), 3)

    def test_lost_events_are_not_classified(self):
        self.assertEqual(metrics._misclassified(["a"], [-1], [-1], [-1], streamed=True), 0)


class IngestMetrics(unittest.TestCase):
    def raw(self, burst_failed=0):
        ns = metrics.NS
        texts = ["x", "y"]
        return {
            "workload": "pipeline_facade", "seed": 1, "trace": 0,
            "t0_epoch_ms": 0.0, "first_op_ns": 0.0, "launched_epoch_ms": 0.0,
            "setup_ns": [3000, 1000, 2000],
            "due": [0, ns, 2 * ns], "fin": [ns // 2, ns + ns // 4, 2 * ns + ns // 10],
            "status": [metrics.NEW, metrics.NEW, metrics.DUP], "batch": [0, 1, 2],
            "text_of": [0, 1, 0], "texts": texts,
            "digest": [hashlib.md5(texts[k].encode()).hexdigest() for k in (0, 1, 0)],
            "window": [0, 3 * ns], "duplicates": 0,
            "burst_ns": [0.4 * ns, 0.5 * ns, 1.0 * ns], "burst_events": 1000,
            "burst_failed": burst_failed, "burst_attempted": 3000, "rate": 100.0,
        }

    def test_throughput_is_median_burst_rate(self):
        res = metrics.evaluate(self.raw(), {})
        self.assertAlmostEqual(res["e2e"]["throughput_per_s"][0], 2000.0)
        self.assertAlmostEqual(res["report"]["headroom"], 20.0)
        self.assertAlmostEqual(res["e2e"]["latency_p50_ms"][0], 250.0)
        self.assertAlmostEqual(res["e2e"]["setup_s"][0], 2e-6)
        self.assertEqual((res["attempted"], res["failed"]), (3003, 0))

    def test_burst_failures_count(self):
        res = metrics.evaluate(self.raw(burst_failed=2), {})
        self.assertEqual(res["failed"], 2)


class BenchmarkFile(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        import json
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to perfbench/")
        with open(path) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, metrics.LAYER_UNITS)


if __name__ == "__main__":
    unittest.main()
