#!/usr/bin/env python3
"""Self-test of the benchmark harness.

    python3 e2ebench/selftest.py [FIXTURE_DIR]

Runs every workload for one second on inputs sampled from FIXTURE_DIR (a
directory holding lineitem and orders parquet tables; by
default the bundled copy of the engine's sf0.001 test fixture). It checks
that

* an untraced run prints every end-to-end metric of BENCHMARK.json, and a
  traced run every per-layer metric, each with its unit, and that every op
  passes its check;
* a deliberately wrong expected result is counted as a failed op.

Run from the root of a checkout; the first run builds the harness.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE = os.path.join(HERE, "fixture", "sf0.001")


def bench(workload, trace=0, *extra):
    """Runs the benchmark; returns its result line as a dict."""
    args = ["python3", os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", "7", "--seconds", "1", "--trace", str(trace),
            "--data", FIXTURE, *extra]
    p = subprocess.run(args, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().split("\n")[-1])


class HarnessTest(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def check_run(self, workload, trace):
        r = bench(workload, trace)
        self.assertEqual(sorted(r), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(r["correct"], r)
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], 0)
        want = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(list(r["metrics"]), [m["name"] for m in want])
        for m in want:
            got = r["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        return r

    def test_every_metric_with_its_unit(self):
        for w in self.spec["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    r = self.check_run(w["name"], trace)
                    if not trace:
                        for m in self.spec["end_to_end"]:
                            self.assertGreater(r["metrics"][m["name"]]["value"], 0,
                                               m["name"])

    def test_wrong_expected_result_counts_as_failed(self):
        # Only q01's expected digest is wrong: its ops fail, the other three
        # kinds' pass, and every client runs each kind equally often.
        r = bench("olap_concurrent", 0, "--wrong-expected", "q01_agg_by_type")
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)
        self.assertEqual(4 * r["failed"], r["attempted"])


if __name__ == "__main__":
    if len(sys.argv) > 1 and not sys.argv[1].startswith("-"):
        FIXTURE = os.path.abspath(sys.argv.pop(1))
    unittest.main(verbosity=2)
