"""Smoke tests of the benchmark at sf0.001: python3 -m unittest perfbench/test_run.py

Each test starts the measuring JVM, so the file takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke", "--seed", "7",
                        "--seconds", "1", *args], cwd=ROOT, stdout=subprocess.PIPE, text=True,
                       env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"))
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


def artifact(workload, trace):
    with open(os.path.join(HERE, "out", f"{workload}-seed7-trace{trace}-smoke", "result.json")) as f:
        return json.load(f)


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.contract = json.load(f)

    def test_every_metric_is_reported(self):
        e2e = [m["name"] for m in self.contract["end_to_end"]]
        layers = [m["name"] for m in self.contract["per_layer"]]
        with open(os.path.join(HERE, "workloads.json")) as f:
            moves = json.load(f)["per_layer"]  # what each layer metric should move, and where
        self.assertEqual(sorted(moves), sorted(layers))
        for w in [x["name"] for x in self.contract["workloads"]]:
            with self.subTest(workload=w):
                rc, res = bench("--workload", w, "--trace", "1")
                self.assertEqual(rc, 0)
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertEqual(sorted(res["metrics"]), sorted(layers))
                art = artifact(w, 1)
                self.assertEqual(art["end_to_end"]["error_rate"]["value"], 0.0)
                for name in e2e:
                    self.assertGreater(art["end_to_end"][name]["value"], 0, name)
                self.assertTrue(art["dominant_layers"])
                self.assertIn("overhead_s", art["tracing_overhead"])
        rc, res = bench("--workload", "short_sql", "--trace", "0")
        self.assertEqual(rc, 0)
        self.assertEqual(sorted(res["metrics"]), sorted(e2e))

    def test_corrupted_golden_raises_error_rate(self):
        with open(os.path.join(HERE, "golden", "sf0.001.json")) as f:
            golden = json.load(f)
        golden["q1_pricing_summary"] = "0:0:0"
        bad = os.path.join(HERE, "out", "corrupted-golden.json")
        os.makedirs(os.path.dirname(bad), exist_ok=True)
        with open(bad, "w") as f:
            json.dump(golden, f)
        rc, res = bench("--workload", "short_sql", "--trace", "0", "--golden", bad)
        self.assertNotEqual(rc, 0)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertGreater(artifact("short_sql", 0)["end_to_end"]["error_rate"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
