"""Tests for compare_oracle.py's oracle mode on a tiny fake Verify dump.

    python3 -m unittest tools/test_compare_oracle.py
"""
import json, os, subprocess, sys, tempfile, unittest
import pandas as pd

TOOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "compare_oracle.py")


class OracleModeTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.sf = os.path.join(self.tmp.name, "sf")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.sf)
        os.makedirs(os.path.join(self.out, "keys"))
        # the tool opens all ten input tables; one column each suffices
        keys = pd.DataFrame({"c_custkey": [1, 2, 3]})
        for t in ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]:
            keys.to_parquet(os.path.join(self.sf, f"{t}.parquet"))
        keys.to_parquet(os.path.join(self.out, "keys", "part-0.parquet"))

    def tearDown(self):
        self.tmp.cleanup()

    def run_tool(self, oracles):
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump(oracles, f)
        return subprocess.run([sys.executable, TOOL, self.sf, self.out],
                              capture_output=True, text=True)

    def test_all_dumped_and_equal_passes(self):
        r = self.run_tool({"keys": "SELECT c_custkey FROM customer ORDER BY 1"})
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("[OK       ] keys", r.stdout)

    def test_declared_oracle_without_dump_fails(self):
        # "crashed" has an oracle but no dump directory, as when its
        # query threw in Verify
        r = self.run_tool({"keys": "SELECT c_custkey FROM customer ORDER BY 1",
                           "crashed": "SELECT count(*) AS n FROM customer"})
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("[MISSING  ] crashed", r.stdout)
        self.assertIn("1 ok, 1 fail", r.stdout)


if __name__ == "__main__":
    unittest.main()
