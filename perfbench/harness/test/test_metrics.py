"""Self-tests of the benchmark's accounting (perfbench/metrics.py).

    python3 -m unittest discover -s perfbench/harness/test -p 'test_*.py'
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))
import metrics  # noqa: E402

PINS = {
    "a": {"status": "oracle", "digest": "1:aa:bb"},
    "anova": {"status": "throws", "error": "ARITHMETIC_OVERFLOW"},
}


def call(key, ok=True, ms=10.0, digest="1:aa:bb", error=None, traced=False):
    c = {"key": key, "ok": ok, "traced": traced, "pass": 0, "span": -1}
    if ok:
        c.update(ms=ms, digest=digest, start_ms=0.0, end_ms=ms)
    else:
        c.update(error=error, start_ms=0.0, end_ms=ms)
    return c


class AccountTest(unittest.TestCase):
    def test_thrown_call_fails_and_is_not_a_latency_sample(self):
        acc = metrics.account([call("a", ms=5.0), call("anova", ok=False,
                                                         error="ARITHMETIC_OVERFLOW")], PINS)
        self.assertEqual((acc["attempted"], acc["failed"]), (2, 1))
        self.assertTrue(acc["correct"], "a pinned, known failure is not a wrong answer")
        run = {"summary": {"setup_ms": 1000.0, "live_heap_bytes": 2 ** 20},
               "passes": [{"start_ms": 0.0, "end_ms": 1000.0}]}
        e2e = metrics.end_to_end(run, acc)
        self.assertEqual(e2e["latency_p50_ms"], 5.0)
        self.assertEqual(e2e["queries_per_s"], 1.0)

    def test_digest_mismatch_fails_and_is_incorrect(self):
        acc = metrics.account([call("a", digest="1:00:00")], PINS)
        self.assertEqual(acc["failed"], 1)
        self.assertFalse(acc["correct"])

    def test_unexpected_error_is_incorrect(self):
        acc = metrics.account([call("a", ok=False, error="BOOM")], PINS)
        self.assertEqual(acc["failed"], 1)
        self.assertFalse(acc["correct"])
        acc = metrics.account([call("anova", ok=False, error="OTHER")], PINS)
        self.assertFalse(acc["correct"])

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(metrics.tail(list(range(1, 201))), (95.0, 190))
        self.assertEqual(metrics.tail(list(range(1, 41))), (75.0, 30))
        self.assertEqual(metrics.tail([4.0, 1.0, 2.0, 3.0, 5.0]), (75.0, 4.0))
        self.assertEqual(metrics.tail([7.0]), (75.0, 7.0))

    def test_trace_overhead_compares_traced_and_untraced_calls(self):
        acc = metrics.account([call("a", ms=10.0), call("a", ms=20.0, traced=True),
                               call("anova", ok=False, ms=20.0, error="ARITHMETIC_OVERFLOW",
                                    traced=True)], PINS)
        run = {"summary": {"cores": 4}, "passes": [], "trace": []}
        self.assertAlmostEqual(metrics.per_layer(run, acc)["trace_overhead"], 0.25)

    def test_union_clips_and_merges(self):
        self.assertEqual(metrics._union_ms([(0, 4), (2, 6), (10, 12)], 1, 11), 6.0)


class BenchmarkFileTest(unittest.TestCase):
    def test_benchmark_json_lists_the_printed_metrics(self):
        root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", "..")
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, metrics.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, metrics.PER_LAYER)
        with open(os.path.join(root, "perfbench", "workloads.json")) as fh:
            names = [w["name"] for w in json.load(fh)["workloads"]]
        self.assertLessEqual({w["name"] for w in bench["workloads"]}, set(names))

    def test_every_workload_key_is_pinned(self):
        here = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
        with open(os.path.join(here, "workloads.json")) as fh:
            keys = {k for w in json.load(fh)["workloads"] for k in w["keys"]}
        with open(os.path.join(here, "pins.json")) as fh:
            pins = json.load(fh)["pins"]
        self.assertEqual(sorted(keys - set(pins)), [])


if __name__ == "__main__":
    unittest.main()
