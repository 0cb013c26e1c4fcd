"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import io
import json
import os
import statistics
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib as bl  # noqa: E402
import compare  # noqa: E402


class GeneratorDeterminism(unittest.TestCase):

    def test_serve_plan_is_a_function_of_the_seed(self):
        a, b = bl.serve_plan(7, 2.5, 30, 20), bl.serve_plan(7, 2.5, 30, 20)
        self.assertEqual(a, b)
        self.assertNotEqual(a["open"]["urls"], bl.serve_plan(8, 2.5, 30, 20)["open"]["urls"])

    def test_serve_events_are_a_function_of_the_seed(self):
        a, b, c = bl.serve_events(3), bl.serve_events(3), bl.serve_events(4)
        for k in a:
            self.assertTrue(np.array_equal(a[k], b[k]), k)
        self.assertFalse(all(np.array_equal(a[k], c[k]) for k in a))

    def test_ingest_chunks_are_deterministic_and_keep_every_row(self):
        a, b = bl.ingest_chunks(5, 40, 50), bl.ingest_chunks(5, 40, 50)
        self.assertEqual(len(a), 40)
        for x, y in zip(a, b):
            self.assertTrue(np.array_equal(x["event_id"], y["event_id"]))
        ids = np.concatenate([c["event_id"] for c in a])
        self.assertEqual(sorted(ids.tolist()), list(range(40 * 50)))

    def test_ingest_rows_stay_inside_the_watermark(self):
        chunks = bl.ingest_chunks(9, 60, 80, late_share=0.3, max_late_chunks=8)
        newest = -1
        late = 0
        for c, rows in enumerate(chunks):
            minute = (rows["ts_us"] // 1000 - bl.T0_MS) // 60_000
            self.assertTrue((minute <= c).all())  # nothing arrives early
            if len(minute):
                newest = max(newest, int(minute.max()))
                late += int((minute < c).sum())
                # one-hour watermark: no row is older than the newest seen minus 60 min
                self.assertTrue((minute > newest - 60).all())
        self.assertGreater(late, 0)  # out-of-order rows do occur

    def test_requests_alternate_history_and_snapshot(self):
        urls = bl.serve_plan(11, 2.5, 40, 0)["open"]["urls"]
        kinds = [u.split("?")[0].rsplit("/", 1)[1] for u in urls]
        self.assertEqual(kinds, ["history", "snapshot"] * 20)
        self.assertGreater(sum("local=true" in u for u in urls), 0)
        self.assertGreater(sum("quadtiling" in u for u in urls), 0)

    def test_request_popularity_is_zipf(self):
        w = bl.zipf_weights(64)
        self.assertAlmostEqual(w.sum(), 1.0)
        self.assertTrue(all(w[i] > w[i + 1] for i in range(63)))
        c = bl.zipf_counts(24, 14)
        self.assertEqual(c.sum(), 14)
        self.assertTrue(all(c[i] >= c[i + 1] for i in range(23)))
        self.assertTrue((abs(c - 14 * bl.zipf_weights(24)) < 1).all())

    def test_every_seed_draws_the_same_shapes(self):
        def shapes(seed):
            urls = bl.serve_plan(seed, 2.5, 28, 0)["open"]["urls"]
            return sorted(u.split("?")[0] + ("L" if "local=true" in u else "") + ("Q" if "quadtiling" in u else "")
                          for u in urls)
        self.assertEqual(shapes(1), shapes(2))
        self.assertNotEqual(bl.serve_plan(1, 2.5, 28, 0)["open"]["urls"], bl.serve_plan(2, 2.5, 28, 0)["open"]["urls"])


class Percentiles(unittest.TestCase):

    def test_matches_numpy_linear_interpolation(self):
        rng = np.random.default_rng(0)
        xs = rng.exponential(300.0, size=37).tolist()
        for q in (0, 10, 50, 90, 95, 100):
            self.assertAlmostEqual(bl.percentile(xs, q), float(np.percentile(xs, q)))

    def test_hand_checked_values(self):
        self.assertEqual(bl.median([3, 1, 2]), 2)
        self.assertEqual(bl.median([4, 1, 3, 2]), 2.5)
        self.assertAlmostEqual(bl.percentile([10, 20, 30, 40, 50], 90), 46.0)
        with self.assertRaises(ValueError):
            bl.percentile([], 50)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertAlmostEqual(bl.tail_pct(40), 75.0)
        self.assertEqual(bl.tail_pct(120), 90.0)  # capped
        self.assertEqual(bl.tail_pct(12), 50.0)  # floored
        n = 28
        beyond = n - (bl.tail_pct(n) / 100.0) * (n - 1) - 1
        self.assertGreaterEqual(beyond, 9.0)


class DueTimeLatency(unittest.TestCase):

    def test_latency_runs_from_the_due_time(self):
        # the second request was sent late (the generator stalled) and
        # the third queued behind it: both delays are latency
        due = [0.0, 1.0, 2.0]
        done = [0.5, 3.0, 3.1]
        self.assertEqual([round(x, 6) for x in bl.due_latencies_ms(due, done)], [500.0, 2000.0, 1100.0])

    def test_lengths_must_agree(self):
        with self.assertRaises(ValueError):
            bl.due_latencies_ms([0.0, 1.0], [0.5])


class Compare(unittest.TestCase):

    SPEC = {"end_to_end": [{"name": "op_p50_ms", "unit": "ms", "better": "lower", "bound": 0.1}]}

    def runs(self, values, failed=0):
        return {"serve": [(i, {"correct": failed == 0, "attempted": 10, "failed": failed,
                               "metrics": {"op_p50_ms": {"value": v, "unit": "ms"}}},
                           {"workload": "serve", "seed": i, "calib": {"cpu_ms": 100.0}})
                          for i, v in enumerate(values)]}

    def test_within_bound_passes_and_counts_pair_wins(self):
        base = self.runs([100, 101, 99, 100, 102])
        new = self.runs([95, 96, 94, 101, 97])
        self.assertTrue(compare.compare(self.SPEC, base, new, out=io.StringIO()))
        self.assertEqual(compare.pair_wins(base["serve"], new["serve"], "op_p50_ms", "lower"), (4, 1))

    def test_regression_beyond_bound_fails(self):
        base = self.runs([100, 101, 99, 100, 102])
        new = self.runs([120, 118, 121, 119, 122])
        self.assertFalse(compare.compare(self.SPEC, base, new, out=io.StringIO()))

    def test_spread_uses_the_acceptance_quartiles(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 9.7]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(compare.spread(compare.quartiles(xs)), (q3 - q1) / q2)

    def test_failed_operations_fail_the_set(self):
        base = self.runs([100, 101, 99])
        new = self.runs([100, 101, 99], failed=1)
        self.assertFalse(compare.compare(self.SPEC, base, new, out=io.StringIO()))

    def test_a_run_file_without_a_result_fails_the_set(self):
        with tempfile.TemporaryDirectory() as d:
            for seed, text in ((1, self.output(1, 100.0)), (2, self.output(2, 101.0)), (3, "")):
                with open(os.path.join(d, "serve-%d.out" % seed), "w") as f:
                    f.write(text)
            runs, broken = compare.load_set(d)
            self.assertEqual([s for s, _, _ in runs["serve"]], [1, 2])
            self.assertEqual([os.path.basename(p) for p in broken], ["serve-3.out"])
            self.assertFalse(compare.compare(self.SPEC, runs, runs, broken=broken, out=io.StringIO()))
            self.assertTrue(compare.compare(self.SPEC, runs, runs, out=io.StringIO()))

    def test_sets_with_different_run_counts_fail(self):
        base = self.runs([100, 101, 99, 100])
        new = self.runs([100, 101, 99])
        self.assertFalse(compare.compare(self.SPEC, base, new, out=io.StringIO()))

    def output(self, seed, value):
        _, result, detail = self.runs([value])["serve"][0]
        detail = dict(detail, seed=seed, trace=0)
        return json.dumps({"detail": detail}) + "\n" + json.dumps(result) + "\n"


if __name__ == "__main__":
    unittest.main()
