#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/test_bench.py

The JVM half (graftbench.SelfTest: percentiles, seeded inputs, every answer
check against a planted wrong answer, BENCHMARK.json against the metric
lists) needs the build; the KN check is tested here in Python.
"""
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


class KnLmCheck(unittest.TestCase):
    def sample(self):
        kn = run.kn_reference()
        texts = ["a b a b c a", "a b c d a b", "b c a b a c", "c d a b c a"]
        model = kn.fit([kn.toks(t) for t in texts], 3, 1)
        docs = [{"id": i, "text": t, "nll": kn.score(model, kn.toks(t))}
                for i, t in enumerate(texts)]
        return kn, {"order": 3, "min_count": 1, "docs": docs}

    def test_reference_nll_passes(self):
        kn, s = self.sample()
        self.assertEqual(run.check_lm_sample(s, kn), [])

    def test_wrong_nll_fails(self):
        kn, s = self.sample()
        s["docs"][2]["nll"] += 0.01
        self.assertEqual(len(run.check_lm_sample(s, kn)), 1)

    def test_no_scored_docs_fails(self):
        kn, s = self.sample()
        s["docs"] = []
        self.assertTrue(run.check_lm_sample(s, kn))


class JvmSelfTest(unittest.TestCase):
    def test_selftest(self):
        classes = build.build()
        cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graftbench.SelfTest"],
                           capture_output=True, text=True, timeout=600)
        sys.stderr.write(r.stdout)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)


if __name__ == "__main__":
    unittest.main()
