import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402


class StepModuleTest(unittest.TestCase):
    def test_every_step_maps_to_a_reported_layer(self):
        for name, spec in workloads.WORKLOADS.items():
            for step in spec["steps"]:
                self.assertIn(workloads.layer_of(step), layers.PER_LAYER,
                              f"{name}/{step}")

    def test_module_of_each_family(self):
        expect = {
            "ml.featurize": "ml.featurize_s", "ml.fit.gbt": "ml.fit_s",
            "features.featurize.nn": "features.featurize_s",
            "gd.lr_local": "gd.lr_local_s", "gd.nn_local.adam": "gd.nn_local_s",
            "gd.lr_dist": "gd.lr_dist_s", "gd.nn_dist": "gd.nn_dist_s",
            "gd.evaluate.nn.adam": "gd.evaluate_s",
            "q17": "queries.relational_s", "w03": "queries.relational_s",
            "aj01": "queries.relational_s", "st03": "streaming.s",
            "t05": "text.s", "d01": "operators.dedup.exact_s",
            "d03": "operators.dedup.lsh_s",
            "d06": "operators.dedup.clusters_s",
            "d17": "operators.dedup.incremental_s",
            "bpe01": "operators.bpe.train_s", "bpe02": "operators.bpe.encode_s",
            "e08": "operators.similarity.ivf_s",
            "e16": "operators.similarity.ivf_persist_s",
            "c01": "operators.curation.s", "c03": "operators.curation.ingest_s",
            "ly03": "operators.layout.write_s",
        }
        for step, layer in expect.items():
            self.assertEqual(workloads.layer_of(step), layer, step)

    def test_unknown_step_is_refused(self):
        with self.assertRaises(KeyError):
            workloads.layer_of("zz9")

    def test_kinds(self):
        self.assertEqual(workloads.kind_of("d17"), "write")
        self.assertEqual(workloads.kind_of("q01"), "read")
        self.assertEqual(workloads.kind_of("ml.fit.rf"), "train")
        self.assertEqual(workloads.kind_of("gd.nn_dist"), "train")
        self.assertEqual(workloads.kind_of("gd.evaluate.lr"), "predict")
        self.assertEqual(workloads.kind_of("features.featurize.lr"), "prepare")

    def test_mixed_workload_has_a_read_tail(self):
        reads = workloads.WAREHOUSE_READS
        self.assertGreater(len(reads), 10)
        self.assertTrue(set(workloads.WAREHOUSE_WRITES).isdisjoint(reads))


class ParityCheckTest(unittest.TestCase):
    def test_parity_bound(self):
        nn = {"curve:nn_local_adam": [0.3], "curve:nn_dist_adam": [0.3]}
        ok = {"curve:lr_local": [4.0, 3.0], "curve:lr_dist": [4.0, 3.0 + 1e-12], **nn}
        self.assertEqual(checks.parity(ok), [])
        bad = {"curve:lr_local": [4.0, 3.0], "curve:lr_dist": [4.0, 3.0001], **nn}
        self.assertEqual(len(checks.parity(bad)), 1)
        self.assertEqual(len(checks.parity(nn)), 1)  # a missing curve fails

    def test_classifier_margin(self):
        res = {"classifier:a": {"accuracy": 0.80}, "classifier:b": {"accuracy": 0.60}}
        self.assertEqual(len(checks.classifiers(res, 0.57, 0.10)), 1)


if __name__ == "__main__":
    unittest.main()
