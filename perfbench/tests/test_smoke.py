"""End-to-end smoke runs of every workload at sf0.001. Needs SPARK_HOME,
sbt and the test tables; a run builds the harness first if its sources
changed.
Run with: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402

DATA = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
READY = bool(os.environ.get("SPARK_HOME")) and os.path.isdir(os.path.join(DATA, "sf0.001"))


@unittest.skipUnless(READY, "needs SPARK_HOME and the test tables")
class SmokeTest(unittest.TestCase):
    def bench(self, workload, seed, trace):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
                            "--scale", "sf0.001"],
                           cwd=ROOT, capture_output=True, text=True, timeout=1200)
        self.assertEqual(p.returncode, 0, p.stdout[-2000:] + p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        with open(os.path.join(ROOT, ".perfbench_work", workload, "raw.json")) as fh:
            return result, json.load(fh)

    def test_every_workload_passes_traced(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                result, _ = self.bench(w, 1, trace=1)
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                self.assertGreaterEqual(result["attempted"], 1)
                self.assertEqual(set(result["metrics"]), {k for k, _ in metrics.PER_LAYER})

    def test_untraced_run_reports_every_end_to_end_metric(self):
        result, _ = self.bench("lookup", 2, trace=0)
        self.assertTrue(result["correct"])
        self.assertEqual(set(result["metrics"]), {k for k, _ in metrics.END_TO_END})
        self.assertTrue(all(m["value"] > 0 for m in result["metrics"].values()))


if __name__ == "__main__":
    unittest.main()
