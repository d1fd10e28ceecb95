import copy
import os
import shutil
import sys
import tempfile
import unittest

import pandas as pd

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402
from graftbench import oracle  # noqa: E402

SQL = "SELECT r_name, r_regionkey * 10 AS k FROM region"


class CorrectnessGateTest(unittest.TestCase):
    """The gate accepts a correct result and rejects a perturbed one."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.data = os.path.join(self.tmp, "data")
        os.makedirs(self.data)
        pd.DataFrame({"r_regionkey": pd.array([0, 1, 2], dtype="int32"),
                      "r_name": ["AFRICA", "AMERICA", "ASIA"]}).to_parquet(
            os.path.join(self.data, "region.parquet"))
        self.check = os.path.join(self.tmp, "check")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def write_result(self, name, df):
        os.makedirs(os.path.join(self.check, name))
        df.to_parquet(os.path.join(self.check, name, "part-0.parquet"))

    def result(self, k):
        return pd.DataFrame({"k": pd.array(k, dtype="int64"),
                             "r_name": ["ASIA", "AFRICA", "AMERICA"]})

    def test_oracle_accepts_correct_and_rejects_perturbed(self):
        self.write_result("good", self.result([20, 0, 10]))
        self.write_result("bad", self.result([20, 0, 11]))  # one value off
        got = oracle.check(ROOT, self.data, self.check, {"good": SQL, "bad": SQL})
        self.assertTrue(got["good"][0], got["good"][1])
        self.assertFalse(got["bad"][0])

    def verdicts(self, res):
        return run.verdicts(ROOT, self.data, copy.deepcopy(res))

    def test_pinned_digest_rejects_a_perturbed_timed_result(self):
        self.write_result("q", self.result([20, 0, 10]))
        op = {"pass": 0, "name": "q", "kind": "query", "ok": True, "digest": "3:42",
              "error": ""}
        res = {"pins": {"q": "3:42"}, "check_dir": self.check, "oracle_sql": {"q": SQL},
               "ops": [dict(op), dict(op, **{"pass": 1})]}
        failed, _ = self.verdicts(res)
        self.assertEqual(failed, 0)
        res["ops"][1]["digest"] = "3:43"  # a timed run returned something else
        failed, lines = self.verdicts(res)
        self.assertEqual(failed, 1)
        self.assertTrue(any("digest" in line for line in lines))

    def test_oracle_failure_fails_every_run_of_the_query(self):
        self.write_result("q", self.result([20, 0, 99]))
        op = {"pass": 0, "name": "q", "kind": "query", "ok": True, "digest": "3:42",
              "error": ""}
        res = {"pins": {"q": "3:42"}, "check_dir": self.check, "oracle_sql": {"q": SQL},
               "ops": [op, dict(op, **{"pass": 1})]}
        failed, _ = self.verdicts(res)
        self.assertEqual(failed, 2)

    def test_deploy_table_mismatch_fails_its_model(self):
        res = {"table_checks": {"t": {"ok": False, "incremental": "1:2",
                                      "full_refresh": "1:3"}},
               "ops": [{"pass": 0, "name": "t", "ok": True, "error": ""},
                       {"pass": 0, "name": "u", "ok": True, "error": ""}]}
        failed, _ = self.verdicts(res)
        self.assertEqual(failed, 1)


if __name__ == "__main__":
    unittest.main()
