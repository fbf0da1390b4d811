import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import layers  # noqa: E402
import workloads  # noqa: E402

SPEC = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


@unittest.skipUnless(os.path.exists(SPEC), "BENCHMARK.json not beside perfbench/")
class BenchmarkJsonTest(unittest.TestCase):
    """run.py must print exactly the metrics BENCHMARK.json declares."""

    @classmethod
    def setUpClass(cls):
        with open(SPEC) as f:
            cls.spec = json.load(f)

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(workloads.WORKLOADS))

    def test_end_to_end(self):
        declared = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual(declared, dict(layers.END_TO_END))
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])

    def test_per_layer(self):
        declared = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(declared, layers.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
