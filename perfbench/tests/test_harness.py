"""Tests for the harness's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import random
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def exec_(key, s, error=None):
    return {"key": key, "s": s, "release_s": 0.001, "error": error}


def layer_row(key, **kw):
    row = {f: 0 for f, _ in run.LAYER_SUMS.values()}
    row.update(key=key, key_s=1.0, construct_s=0.2, analyze_s=0.1,
               optimize_s=0.1, physical_s=0.1, action_s=0.5, single_task_stages=0)
    row.update(kw)
    return row


def raw_run(n_passes=4, keys=("a", "b"), traced=False):
    passes = []
    for p in range(1, n_passes + 1):
        t = traced and p % 2 == 0
        passes.append({
            "pass": p, "settle": False, "traced": t, "wall_s": 2.0 + (0.2 if t else 0.0),
            "execs": [exec_(k, 0.1 * (i + 1)) for i, k in enumerate(keys)],
            "layers": [layer_row(k, stages=2, single_task_stages=1, task_s=1.0)
                       for k in keys] if t else []})
    return {
        "cores": 4, "heap_peak_mb": 100.0,
        "setup": {"session_s": 3.0, "warmup_s": 0.5},
        "cold": {"wall_s": 5.0, "execs": [exec_(k, 1.0) for k in keys],
                 "jit_s": 2.0, "gc_s": 0.1},
        "fingerprints": {k: "1:2:3" for k in keys},
        "passes": passes,
    }


class PercentileRules(unittest.TestCase):
    def test_nearest_rank(self):
        values = list(range(1, 101))
        random.Random(7).shuffle(values)
        self.assertEqual(stats.percentile(values, 0.5), 50)
        self.assertEqual(stats.percentile(values, 0.9), 90)
        self.assertEqual(stats.percentile([4.0], 0.9), 4.0)

    def test_float_error_does_not_shift_rank(self):
        # 0.55 * 100 is 55.00000000000001 in binary floating point
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.55), 55)

    def test_ten_samples_beyond_the_tail_percentile(self):
        self.assertEqual(stats.samples_beyond(40, 0.75), 10)
        self.assertEqual(stats.samples_beyond(39, 0.75), 9)
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)

    def test_quartiles_match_the_gate(self):
        values = [3.1, 2.9, 3.4, 3.0, 3.3, 2.8, 3.2, 3.05, 2.95, 3.15]
        self.assertEqual(list(stats.quartiles(values)),
                         statistics.quantiles(values, n=4))
        q1, q2, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(stats.spread(values), (q3 - q1) / q2)


class EndToEnd(unittest.TestCase):
    def test_metrics_and_sample_counts(self):
        values, samples = run.end_to_end(raw_run())
        self.assertEqual(values["warm_wall_s"], 2.0)
        self.assertEqual(values["cold_wall_s"], 5.0)
        self.assertAlmostEqual(values["setup_s"], 3.5)
        self.assertEqual(samples["query_p75_s"], 8)
        self.assertEqual(samples["query_p75_beyond"], 2)

    def test_failed_executions_are_not_latencies(self):
        raw = raw_run(keys=("a",))
        raw["passes"][0]["execs"].append(exec_("b", 99.0, error="boom"))
        values, samples = run.end_to_end(raw)
        self.assertEqual(samples["query_p50_s"], 4)
        self.assertLess(values["query_p75_s"], 1.0)

    def test_metric_names_match_the_spec(self):
        with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        values, _ = run.end_to_end(raw_run())
        self.assertEqual(set(values), {m["name"] for m in spec["end_to_end"]})
        layers = run.per_layer(raw_run(traced=True))
        self.assertEqual(set(layers), {m["name"] for m in spec["per_layer"]})


    def test_settling_passes_are_left_out(self):
        raw = raw_run()
        raw["passes"].insert(0, dict(raw["passes"][0], settle=True, wall_s=9.0,
                                     execs=[exec_("a", 8.0), exec_("b", 9.0)]))
        values, samples = run.end_to_end(raw)
        self.assertEqual(values["warm_wall_s"], 2.0)
        self.assertEqual(samples["query_p50_s"], 8)


class PerLayer(unittest.TestCase):
    def test_traced_passes_give_layers_and_overhead(self):
        v = run.per_layer(raw_run(traced=True))
        self.assertAlmostEqual(v["construct.s"], 0.4)
        self.assertAlmostEqual(v["trace.overhead_frac"], 0.1)
        self.assertAlmostEqual(v["sched.single_task_stage_frac"], 0.5)
        self.assertAlmostEqual(v["exec.task_util"], 2.0 / (2.2 * 4))
        self.assertAlmostEqual(v["trace.unattributed_frac"], 0.0)
        self.assertEqual(v["setup.session_s"], 3.0)


class Fingerprints(unittest.TestCase):
    def test_mismatch_and_error_are_failures(self):
        raw = raw_run()
        raw["cold"]["execs"][0]["error"] = "boom"
        raw["fingerprints"]["b"] = "1:2:4"
        attempted, failures = run.check(raw, {"a": "1:2:3", "b": "1:2:3"})
        self.assertEqual(attempted, 2 + 4 * 2 + 2)
        self.assertEqual([k for k, _ in failures], ["a", "b"])

    def test_missing_expectation_is_a_failure(self):
        _, failures = run.check(raw_run(keys=("a",)), {})
        self.assertEqual(len(failures), 1)


class Compare(unittest.TestCase):
    def test_win_rate_ignores_ties(self):
        self.assertEqual(compare.win_rate({1: 2.0, 2: 2.0, 3: 2.0},
                                          {1: 1.0, 2: 2.0, 3: 3.0}, "lower"), 1 / 3)

    def test_verdicts(self):
        parent = {s: 10.0 + 0.01 * s for s in range(10)}
        self.assertEqual(compare.verdict(parent, {s: v * 1.5 for s, v in parent.items()},
                                         "lower", 0.1), "regressed")
        self.assertEqual(compare.verdict(parent, {s: v * 0.8 for s, v in parent.items()},
                                         "lower", 0.1), "improved")
        self.assertEqual(compare.verdict(parent, dict(parent), "lower", 0.1),
                         "within bound")
        noisy = {s: 10.0 * (1 + (s % 2)) for s in range(10)}
        self.assertEqual(compare.verdict(noisy, noisy, "lower", 0.1), "unresolved")


if __name__ == "__main__":
    unittest.main()
