"""Every answer check passes on a second seed, for every workload.

Slow (one short run per workload, plus a build on a fresh checkout). Run
from the root of a checkout:

    python3 -m unittest perfbench/tests/test_seeds.py
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.abspath(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))
SECOND_SEED = 987654


class SecondSeedTest(unittest.TestCase):
    def test_answer_checks_pass_on_a_second_seed(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        for w in spec["workloads"]:
            with self.subTest(workload=w["name"]):
                p = subprocess.run(
                    [sys.executable, "perfbench/run.py", "--workload", w["name"],
                     "--seed", str(SECOND_SEED), "--seconds", "4", "--trace", "0"],
                    cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                    text=True, timeout=1200)
                self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                result = json.loads(p.stdout.strip().splitlines()[-1])
                self.assertTrue(result["correct"], p.stdout[-3000:])
                self.assertEqual(result["failed"], 0)
                self.assertGreater(result["attempted"], 100)


if __name__ == "__main__":
    unittest.main()
