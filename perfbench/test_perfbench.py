"""Tests of the benchmark's own logic (no Spark needed).

Run from the repository root: python3 -m unittest perfbench/test_perfbench.py
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        value, resolved = stats.percentile(range(1, 101), 0.9)
        self.assertAlmostEqual(value, 90.1)
        self.assertTrue(resolved)
        self.assertTrue(stats.percentile(range(92), 0.9)[1])
        self.assertFalse(stats.percentile(range(91), 0.9)[1])

    def test_median_needs_twenty_samples(self):
        self.assertEqual(stats.percentile(range(20), 0.5), (9.5, True))
        self.assertFalse(stats.percentile(range(19), 0.5)[1])

    def test_interpolates_and_ignores_order(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.percentile(xs, 0.5), (3.0, False))
        self.assertEqual(stats.percentile([1.0, 2.0], 0.5)[0], 1.5)
        self.assertEqual(stats.percentile([7.0], 0.9)[0], 7.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)


class Record(unittest.TestCase):
    def test_every_metric_named_with_its_unit(self):
        values = {n: 1.5 for n in stats.END_TO_END}
        rec = stats.record(True, 3, 0, values, stats.END_TO_END)
        self.assertEqual(set(rec), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(rec["metrics"]), set(stats.END_TO_END))
        for name, m in rec["metrics"].items():
            self.assertEqual(m, {"value": 1.5, "unit": stats.END_TO_END[name]})

    def test_missing_metric_is_refused(self):
        values = {n: 1.0 for n in list(stats.PER_LAYER)[1:]}
        with self.assertRaises(KeyError):
            stats.record(True, 1, 0, values, stats.PER_LAYER)

    def test_benchmark_json_lists_the_same_metrics(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, stats.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, stats.PER_LAYER)


class LogClassification(unittest.TestCase):
    def test_counts_only_inside_timed_passes(self):
        lines = [
            "26/10/17 12:00:00 ERROR Executor: before any pass\n",
            "[perfbench] pass 0 start\n",
            "26/10/17 12:00:01 ERROR DAGScheduler: Failed to update accumulator 7 (Unknown class)\n",
            "26/10/17 12:00:01 WARN Foo: not an error\n",
            "26/10/17 12:00:02 ERROR Executor: something else\n",
            "[perfbench] pass 0 end\n",
            "26/10/17 12:00:03 ERROR Executor: between passes\n",
            "[perfbench] pass 1 start\n",
            "[perfbench] pass 1 end\n",
        ]
        self.assertEqual(stats.classify_log(lines), (2, 1, 2))


class Generators(unittest.TestCase):
    def gen_all(self, root, seed):
        out = {
            "listings": gen.gen_listings(os.path.join(root, "listings"), 400, seed),
            "star": gen.gen_star(root, 0.0005, seed),
            "corpus": gen.gen_corpus(root, 60, 20, seed),
        }
        return out, tree_digest(root)

    def test_same_seed_same_inputs_and_counts(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            info_a, dig_a = self.gen_all(a, 7)
            info_b, dig_b = self.gen_all(b, 7)
            self.assertEqual(info_a, info_b)
            self.assertEqual(dig_a, dig_b)

    def test_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            info_a, dig_a = self.gen_all(a, 7)
            info_b, dig_b = self.gen_all(b, 8)
            self.assertNotEqual(dig_a, dig_b)
            self.assertNotEqual(info_a["listings"]["expected"], info_b["listings"]["expected"])

    def test_planted_repeats_and_gaps_are_dropped(self):
        with tempfile.TemporaryDirectory() as a:
            info = gen.gen_listings(a, 2000, 3)
        for platform, kept in info["expected"].items():
            raw = info["raw_rows"][platform]
            self.assertLess(kept, raw, platform)
            self.assertGreater(kept, 0.85 * raw, platform)


if __name__ == "__main__":
    unittest.main()
