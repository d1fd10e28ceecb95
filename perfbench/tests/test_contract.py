import json
import os
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
import run  # noqa: E402
from graftbench import spans  # noqa: E402

MANIFEST = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")


@unittest.skipUnless(os.path.exists(MANIFEST), "BENCHMARK.json not in this checkout")
class ContractTest(unittest.TestCase):
    """run.py reports exactly the metrics BENCHMARK.json declares."""

    def setUp(self):
        self.manifest = json.load(open(MANIFEST))

    def test_end_to_end_metrics(self):
        declared = {m["name"]: m["unit"] for m in self.manifest["end_to_end"]}
        self.assertEqual(list(declared), list(run.GATED))
        res = {"ops": [{"pass": 0, "name": "q", "wall_s": 1.0}],
               "passes": [{"wall_s": 2.0}], "setup_s": [1.0, 2.0, 3.0],
               "cold_s": 3.0, "peak_heap_mb": 100.0}
        m, _ = run.end_to_end(res)
        self.assertEqual({k: m[k][1] for k in run.GATED}, declared)
        self.assertEqual({w["name"] for w in self.manifest["workloads"]} - set(run.WORKLOADS),
                         set())

    def test_per_layer_metrics(self):
        res = {"ops": [], "passes": [{"index": 0, "traced": True, "wall_s": 1.0},
                                     {"index": 1, "traced": False, "wall_s": 1.0}]}
        names = set(spans.layer_metrics(res, [], 4)) | set(run.WAREHOUSE_METRICS)
        declared = {m["name"]: m["unit"] for m in self.manifest["per_layer"]}
        self.assertEqual(set(declared), names)
        self.assertEqual(declared, {n: run.unit(n) for n in declared})


if __name__ == "__main__":
    unittest.main()
