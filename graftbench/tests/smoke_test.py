"""Smoke test of the benchmark itself: every workload on the inputs the
graded runs use, with `--seconds 1` (one pass, as a graded run makes),
traced and untraced. Checks the output contract (last stdout line,
metric names and units as BENCHMARK.json declares them), that every
output check passes, and that a seed reproduces its serve results.

    python3 graftbench/tests/smoke_test.py

Needs sbt and the engine's toolchain; the first run builds (a few
minutes), later runs take about seven minutes on a 4-core host.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, seed, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, *SPEC["command"][1:]),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{workload} exited {out.returncode}:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class Smoke(unittest.TestCase):

    def check(self, workload, trace, seed=1):
        info, res = run(workload, seed, trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], info)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        declared = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        return info, res

    def test_warehouse(self):
        self.check("warehouse", 0)
        self.check("warehouse", 1)

    def test_serve(self):
        info, _ = self.check("serve", 0, seed=7)
        again, res = self.check("serve", 1, seed=7)
        # same seed, same inputs, same index state: same results
        self.assertEqual(info["result_digest"], again["result_digest"])
        self.assertEqual(res["metrics"]["index.files_growth"]["value"], 0)

    def test_intake(self):
        self.check("intake", 0)
        info, res = self.check("intake", 1)
        # the stream appends: the index directories gain files
        self.assertGreater(res["metrics"]["index.files_growth"]["value"], 0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
