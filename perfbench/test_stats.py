"""Checks of the benchmark's own helpers: statistics, metric names, the prefix-sum
tolerance, layer self times, pin agreement, heap allocation accounting and the
metric declarations in BENCHMARK.json.

    python3 -m unittest perfbench/test_stats.py      # from the root of a checkout
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartiles_match_statistics_module(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(q2, statistics.median(xs))
        self.assertLessEqual(q1, q2)
        self.assertLessEqual(q2, q3)

    def test_quartiles_single_sample(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))

    def test_iqr_share(self):
        xs = [10.0] * 10
        self.assertEqual(stats.iqr_share(xs), 0.0)
        q1, q2, q3 = statistics.quantiles([1.0, 2.0, 3.0, 4.0], n=4)
        self.assertAlmostEqual(stats.iqr_share([1.0, 2.0, 3.0, 4.0]), (q3 - q1) / q2)

    def test_metric_names(self):
        for ok in ["pass_s", "exprs.speckle_lee.ns_per_px", "query.q_span_cells_s", "9x"]:
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ["", "_x", ".x", "a b", "a/b", "x" * 65]:
            self.assertFalse(stats.valid_name(bad), bad)
        for ok in ["s", "ms", "rows/s", "ns/px", "MB", "count", "ratio", "%"]:
            self.assertTrue(stats.valid_unit(ok), ok)
        for bad in ["", "rows per s", "x" * 17]:
            self.assertFalse(stats.valid_unit(bad), bad)

    def test_prefix_sum_tolerance(self):
        # relative band for slow queries
        self.assertTrue(stats.prefix_sum_ok(1.2, 1.0))
        self.assertTrue(stats.prefix_sum_ok(0.8, 1.0))
        self.assertFalse(stats.prefix_sum_ok(1.3, 1.0))
        # absolute floor for fast ones
        self.assertTrue(stats.prefix_sum_ok(0.3, 0.1))
        self.assertFalse(stats.prefix_sum_ok(0.4, 0.1))

    def test_layer_times_telescope(self):
        # root <- a <- b, root <- c over two rounds: each node's time is its best
        # round, and the self times sum to the root's time
        def span(i, name, parent, dur):
            return {"id": i, "name": name, "parent": parent, "start_ns": 0, "end_ns": int(dur * 1e9)}
        rounds = [[("root", -1, 3.5), ("a", 0, 2.0), ("b", 1, 0.9), ("c", 0, 0.25)],
                  [("root", -1, 3.0), ("a", 0, 2.5), ("b", 1, 0.5), ("c", 0, 0.3)]]
        spans = []
        for r in rounds:
            base = len(spans)
            spans += [span(base + k, n, p + base if p >= 0 else -1, d) for k, (n, p, d) in enumerate(r)]
        t = stats.layer_times(spans)
        self.assertAlmostEqual(t["root"][0], 3.0)
        self.assertAlmostEqual(t["root"][1], 0.75)
        self.assertAlmostEqual(t["a"][1], 1.5)
        self.assertAlmostEqual(t["b"][1], 0.5)
        self.assertAlmostEqual(t["c"][1], 0.25)
        self.assertAlmostEqual(sum(st for _, st, _ in t.values()), t["root"][0])
        self.assertEqual(t["root"][2], ["a", "c"])
        self.assertEqual(t["b"][2], [])

    def test_negative_self_time(self):
        # noise within the prefix-sum band passes; a prefix slower than its consumer
        # by more than the band fails the decomposition
        self.assertTrue(stats.self_time_ok(0.0, 1.0))
        self.assertTrue(stats.self_time_ok(-0.2, 0.5))
        self.assertTrue(stats.self_time_ok(-0.45, 2.0))
        self.assertFalse(stats.self_time_ok(-0.3, 0.5))
        self.assertFalse(stats.self_time_ok(-0.6, 2.0))


class PinTest(unittest.TestCase):
    def raw(self, *results):
        return {"passes": [{"id": "timed-1", "queries": [{"name": q, "rows": r, "checksum": c}
                                        for q, r, c in results]}], "spans": []}

    def test_agreeing_runs_pin(self):
        agreed, bad = run.agreed_results(self.raw(("q_a", 3, "7"), ("q_a", 3, "7"), ("q_b", 1, "-2")))
        self.assertEqual(bad, [])
        self.assertEqual(agreed, {"q_a": {"rows": 3, "checksum": "7"}, "q_b": {"rows": 1, "checksum": "-2"}})

    def test_disagreeing_runs_do_not_pin(self):
        agreed, bad = run.agreed_results(self.raw(("q_a", 3, "7"), ("q_a", 3, "8")))
        self.assertNotIn("q_a", agreed)
        self.assertEqual(len(bad), 1)

    def test_prefix_copy_must_match_pin(self):
        pins = {"sf0.001": {"q_a": {"rows": 3, "checksum": "7"}}}
        raw = dict(self.raw(("q_a", 3, "7")), sf="sf0.001")
        self.assertEqual(run.check_passes(raw, pins), (1, 0, []))
        raw["prefix_checks"] = [{"name": "p", "query": "q_a", "rows": 3, "checksum": "8"}]
        attempted, failed, msgs = run.check_passes(raw, pins)
        self.assertEqual((attempted, failed, len(msgs)), (1, 0, 1))


class HeapTest(unittest.TestCase):
    def test_alloc_counts_only_the_collections_of_the_pass(self):
        mib = int(run.MIB)
        raw = {"collections": [
            ["Copy", 4, 900 * mib, 100 * mib],                # before the pass
            ["MarkSweepCompact", 2, 300 * mib, 80 * mib],     # the full collection before it
            ["Copy", 5, 600 * mib, 120 * mib],
            ["Copy", 6, 620 * mib, 150 * mib],
            ["MarkSweepCompact", 3, 500 * mib, 90 * mib],
            ["Copy", 7, 700 * mib, 200 * mib],                # after the pass
        ]}
        p = {"gc_counts_start": {"Copy": 4, "MarkSweepCompact": 2},
             "gc_counts_end": {"Copy": 6, "MarkSweepCompact": 3},
             "heap_start": 80 * mib, "heap_end": 130 * mib}
        # grew by 50 MiB and freed 480 + 470 + 410
        self.assertEqual(run.alloc_bytes(raw, p), (50 + 480 + 470 + 410) * mib)
        self.assertEqual(run.heap_peak(raw, [p]).value, 150.0)
        p_none = dict(p, gc_counts_start=p["gc_counts_end"])
        self.assertEqual(run.alloc_bytes(raw, p_none), 50 * mib)
        self.assertIsNone(run.heap_peak(raw, [p_none]))


class SpecTest(unittest.TestCase):
    def test_benchmark_json_metrics(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertTrue(stats.valid_name(m["name"]), m)
            self.assertTrue(stats.valid_unit(m["unit"]), m)
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in spec["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
