"""Tests for the benchmark's own arithmetic and output format.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import canon, metrics, stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        v, why = stats.percentile(list(range(1, 100)), 0.9)
        self.assertIsNone(v)
        self.assertIn("needs >= 100 samples", why)
        v, why = stats.percentile(list(range(1, 101)), 0.9)
        self.assertEqual(v, 90)
        self.assertIsNone(why)

    def test_p50_nearest_rank(self):
        self.assertEqual(stats.percentile(list(range(1, 21)), 0.5), (10, None))
        self.assertIsNone(stats.percentile(list(range(1, 20)), 0.5)[0])

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 40
        self.assertEqual(stats.percentile(xs, 0.9)[0], 5.0)

    def test_tail_percentile_picks_highest_supported(self):
        self.assertEqual(stats.tail_percentile(list(range(1, 101))), (0.9, 90))
        self.assertEqual(stats.tail_percentile(list(range(1, 41))), (0.75, 30))
        self.assertIsNone(stats.tail_percentile(list(range(1, 20)))[0])

    def test_no_samples(self):
        self.assertEqual(stats.percentile([], 0.5), (None, "no samples"))


class FailedFracTest(unittest.TestCase):
    def test_arithmetic(self):
        self.assertEqual(stats.failed_frac(40, 0), 0.0)
        self.assertEqual(stats.failed_frac(40, 10), 0.25)
        self.assertEqual(stats.failed_frac(1, 1), 1.0)

    def test_rejects_impossible_counts(self):
        for attempted, failed in ((0, 0), (5, 6), (5, -1)):
            with self.assertRaises(ValueError):
                stats.failed_frac(attempted, failed)

    def test_failed_ops_stay_in_counts_and_percentiles(self):
        raw = {"workload": "sql_star", "window_s": 2.0, "setup_s": [1.0], "extra": {},
               "retained_heap_mb": 100.0,
               "ops": [{"kind": "sql", "name": "t", "ms": float(i), "ok": i % 4 != 0,
                        "client": 0, "start_ms": 50.0 * (i - 1)} for i in range(1, 41)]}
        self.assertEqual(metrics.counts(raw), (40, 10))
        e2e, _ = metrics.end_to_end(raw)
        self.assertEqual(e2e["ops_per_s"]["value"], 40 / 1.99)
        self.assertEqual(e2e["p50_ms"]["value"], 20.0)
        row = [r for r in metrics.named_report(raw) if r[0] == "failed_frac"][0]
        self.assertEqual((row[1], row[3]), (0.25, 40))


class ThroughputTest(unittest.TestCase):
    def test_client_that_finished_early_does_not_dilute_the_rate(self):
        ops = ([{"client": 0, "start_ms": 100.0 * i, "ms": 100.0} for i in range(10)]
               + [{"client": 1, "start_ms": 200.0 * i, "ms": 200.0} for i in range(10)])
        self.assertAlmostEqual(metrics.ops_per_s(ops), 10 / 1.0 + 10 / 2.0)


class ClientCountTest(unittest.TestCase):
    def test_capped_at_nproc(self):
        self.assertEqual(stats.client_count(2, 4), 2)
        self.assertEqual(stats.client_count(8, 4), 4)
        self.assertEqual(stats.client_count(2, 1), 1)
        self.assertEqual(stats.client_count(0, 4), 1)


class ResultSchemaTest(unittest.TestCase):
    def line(self, names):
        return stats.result_line(True, 12, 0, {n: {"value": 1.5, "unit": "ms"} for n in names})

    def test_round_trip(self):
        names = list(metrics.END_TO_END)
        out = json.loads(json.dumps(self.line(names)))
        self.assertEqual(stats.validate_result(out, names), out)
        self.assertEqual(list(out), ["correct", "attempted", "failed", "metrics"])

    def test_rejects_missing_or_extra_metrics(self):
        names = list(metrics.END_TO_END)
        with self.assertRaises(ValueError):
            stats.validate_result(self.line(names[:-1]), names)
        with self.assertRaises(ValueError):
            stats.validate_result(self.line(names + ["extra"]), names)

    def test_rejects_bad_fields(self):
        names = ["p50_ms"]
        for mutate in (lambda o: o.update(correct="yes"),
                       lambda o: o.update(attempted=0),
                       lambda o: o.update(failed=2.0),
                       lambda o: o.update(extra=1),
                       lambda o: o["metrics"]["p50_ms"].update(value=float("nan")),
                       lambda o: o["metrics"]["p50_ms"].update(note="x")):
            out = self.line(names)
            mutate(out)
            with self.assertRaises(ValueError):
                stats.validate_result(out, names)

    def test_benchmark_json_lists_the_emitted_metrics(self):
        path = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json not beside the benchmark")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, metrics.PER_LAYER)


class CanonTest(unittest.TestCase):
    def test_values_render_like_compare_py(self):
        import datetime
        import decimal
        self.assertEqual(canon.norm(4000.0), "4000")
        self.assertEqual(canon.norm(0.1 + 0.2), "0.3")
        self.assertEqual(canon.norm(1e-7), "1e-07")
        self.assertEqual(canon.norm(None), "NULL")
        self.assertEqual(canon.norm(True), "true")
        self.assertEqual(canon.norm(decimal.Decimal("1.50")), "1.50")
        self.assertEqual(canon.norm(datetime.datetime(2001, 2, 3, 4, 5, 6)), "2001-02-03 04:05:06")
        self.assertEqual(canon.norm([1, None]), "[1,NULL]")

    def test_digest_ignores_row_and_column_order(self):
        a = canon.shape(["b", "a"], [(1, "x"), (2, "y")])
        b = canon.shape(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a["digest"], canon.shape(["a", "b"], [("y", 2)])["digest"])


if __name__ == "__main__":
    unittest.main()
