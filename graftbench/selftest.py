#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic: percentile picking, failure
counting, the metric tables against BENCHMARK.json, and (after building)
the harness's Scala checks -- call-site attribution and conf parsing.

Usage: python3 graftbench/selftest.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402


class Tail(unittest.TestCase):
    def test_highest_step_with_ten_beyond(self):
        pct, v, beyond = metrics.tail([float(x) for x in range(1, 101)])
        self.assertEqual((pct, beyond), (90.0, 10))
        self.assertAlmostEqual(v, 90.1)

    def test_next_step_would_leave_fewer_than_ten(self):
        pct, _, beyond = metrics.tail([float(x) for x in range(1, 38)])
        self.assertEqual((pct, beyond), (50.0, 18))
        pct, _, beyond = metrics.tail([float(x) for x in range(1, 39)])
        self.assertEqual((pct, beyond), (75.0, 10))

    def test_small_sample_falls_back_to_median(self):
        pct, v, beyond = metrics.tail([3.0, 1.0, 2.0, 5.0, 4.0])
        self.assertEqual((pct, v, beyond), (50.0, 3.0, 2))

    def test_ties_do_not_count_as_beyond(self):
        pct, v, beyond = metrics.tail([1.0] * 30)
        self.assertEqual((pct, v, beyond), (50.0, 1.0, 0))


class Failures(unittest.TestCase):
    expected = {"q1": (6, 111), "q2": (3, 222)}

    def op(self, name, rows, h, p=1, error=None):
        return {"pass": p, "name": name, "rows": rows, "hash": h, "error": error}

    def test_matching_outputs_pass(self):
        ops = [self.op("q1", 6, 111), self.op("q2", 3, 222)]
        self.assertEqual(metrics.count_failures(ops, self.expected, set(), set()), 0)

    def test_planted_wrong_hash_fails(self):
        ops = [self.op("q1", 6, 111), self.op("q2", 3, 223)]
        self.assertEqual(metrics.count_failures(ops, self.expected, set(), set()), 1)

    def test_wrong_row_count_fails(self):
        ops = [self.op("q1", 7, 111)]
        self.assertEqual(metrics.count_failures(ops, self.expected, set(), set()), 1)

    def test_exception_fails_like_a_wrong_result(self):
        ops = [self.op("q1", None, None, error="boom"), self.op("q2", 3, 222)]
        self.assertEqual(metrics.count_failures(ops, self.expected, set(), set()), 1)

    def test_unverified_setup_output_fails_every_repeat(self):
        ops = [self.op("q1", 6, 111, p) for p in (1, 2, 3)]
        self.assertEqual(metrics.count_failures(ops, self.expected, {"q1"}, set()), 3)

    def test_failed_state_check_fails_its_pass(self):
        ops = [self.op("q1", 6, 111, 1), self.op("q2", 3, 222, 2)]
        self.assertEqual(metrics.count_failures(ops, self.expected, set(), {2}), 1)

    def test_ok_frac_counts_failures_against_attempts(self):
        values, _ = metrics.end_to_end([1.0], [1.0] * 4, 2.0, attempted=4, failed=1)
        self.assertEqual(values["ok_frac"], 0.75)


class Declared(unittest.TestCase):
    def test_benchmark_json_matches_the_metric_tables(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         metrics.PER_LAYER)


def scala_selftest():
    cp = build.build()
    return subprocess.run(["java", "-cp", cp, "graftbench.SelfTest"]).returncode


if __name__ == "__main__":
    result = unittest.main(exit=False).result
    rc = scala_selftest()
    sys.exit(0 if result.wasSuccessful() and rc == 0 else 1)
