"""Self-test of the benchmark on tiny inputs (a few hundred docs).

Run from the root of a checkout (takes about five minutes):

    python3 -m unittest perfbench/test_selftest.py

Checks that a run produces every metric BENCHMARK.json names, that the
traced extraction run leaves no Spark task without a layer label, and that
a deliberately corrupted output is caught (a wrong row; for extraction also
a doc committed twice): error_rate rises above 0 and the command exits
non-zero.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def bench(workload, trace, corrupt=None):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "small"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


class SelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check_names(self, result, section):
        want = {m["name"]: m["unit"] for m in self.spec[section]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for name, m in result["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)

    def test_workloads(self):
        for w in (x["name"] for x in self.spec["workloads"]):
            with self.subTest(workload=w):
                rc, res = bench(w, trace=0)
                self.assertEqual(rc, 0)
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                self.check_names(res, "end_to_end")
                for m in res["metrics"].values():
                    self.assertGreater(m["value"], 0)

                rc, res = bench(w, trace=1, corrupt="spans")
                self.assert_caught(rc, res)
                self.check_names(res, "per_layer")
                self.assertGreater(res["metrics"]["error_rate"]["value"], 0)
                if w == "extract_resume":
                    self.assertGreater(res["metrics"]["runner.antijoin.wall_s"]["value"], 0)
                    self.assertEqual(res["metrics"]["trace.unlabelled_tasks"]["value"], 0)
                    self.assertEqual(res["metrics"]["trace.gate_fresh_tasks"]["value"], 0)

    def test_extraction_duplicate(self):
        rc, res = bench("extract_resume", trace=0, corrupt="dup")
        self.assert_caught(rc, res)

    def assert_caught(self, rc, res):
        self.assertNotEqual(rc, 0)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)


if __name__ == "__main__":
    unittest.main()
