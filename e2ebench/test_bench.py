#!/usr/bin/env python3
"""The benchmark's own tests: the seeded generators are deterministic.
Run from the repository root: `python3 e2ebench/test_bench.py`."""
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("tick_fresh", "state_growth", "batch_sql")


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp = build.build()

    def digest(self, workload, seed):
        out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", self.cp, "graft.e2ebench.Main", "--workload", workload,
                              "--seed", str(seed), "--digest", "1"],
                             capture_output=True, text=True, check=True)
        return out.stdout.strip()

    def test_same_seed_same_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(self.digest(w, 7), self.digest(w, 7))

    def test_other_seed_other_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.assertNotEqual(self.digest(w, 7), self.digest(w, 8))


if __name__ == "__main__":
    unittest.main()
