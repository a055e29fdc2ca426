#!/usr/bin/env python3
"""Tests of the seeded input generator.

    python3 perfbench/test_gen.py

Run from the repository root; scratch output goes under .bench_build/.
"""
import os
import shutil
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

SCRATCH = os.path.join(".bench_build", "perfbench", "test_gen")
WORKLOADS = ("featurecounts", "wide_join", "depth")


def generate(workload, seed, tag):
    out = os.path.join(SCRATCH, f"{workload}-{seed}-{tag}")
    shutil.rmtree(out, ignore_errors=True)
    return gen.generate(workload, seed, out)


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.runs = {(w, s, t): generate(w, s, t) for w in WORKLOADS for s, t in ((1, "a"), (1, "b"), (2, "a"))}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_inputs(self):
        for w in WORKLOADS:
            a, b = self.runs[(w, 1, "a")], self.runs[(w, 1, "b")]
            self.assertEqual({k: v["checksum"] for k, v in a["tables"].items()},
                             {k: v["checksum"] for k, v in b["tables"].items()}, w)
            self.assertEqual(a["properties"], b["properties"], w)

    def test_other_seed_same_shape_different_rows(self):
        for w in WORKLOADS:
            a, c = self.runs[(w, 1, "a")], self.runs[(w, 2, "a")]
            self.assertEqual(a["inputs"].keys(), c["inputs"].keys(), w)
            for name, t in a["tables"].items():
                u = c["tables"][name]
                self.assertEqual(t["rows"], u["rows"], f"{w}/{name}")
                self.assertNotEqual(t["checksum"], u["checksum"], f"{w}/{name}")
                if "bytes" in t:
                    self.assertAlmostEqual(t["bytes"] / u["bytes"], 1.0, delta=0.05, msg=f"{w}/{name}")

    def test_join_workloads_differ_only_in_budget(self):
        for seed in (1, 2):
            fits = self.runs[("featurecounts", seed, "a")]
            over = self.runs[("wide_join", seed, "a")]
            self.assertEqual({k: v["checksum"] for k, v in fits["tables"].items()},
                             {k: v["checksum"] for k, v in over["tables"].items()})
            self.assertLess(fits["properties"]["features_parquet_bytes"],
                            fits["properties"]["broadcast_budget_bytes"])
            self.assertGreater(over["properties"]["features_parquet_bytes"],
                               2 * over["properties"]["broadcast_budget_bytes"])

    def test_shapes_follow_the_recorded_data(self):
        rec = gen.RECORDED_JOIN
        join = self.runs[("featurecounts", 1, "a")]["properties"]
        self.assertEqual(join["reads_per_feature"], rec["reads"] / rec["features"])
        self.assertAlmostEqual(join["features_per_mb"],
                               rec["features"] / (rec["contigs"] * rec["contig_len"]) * 1e6)
        self.assertAlmostEqual(join["pairs_per_read_expected"] / join["pairs_per_read_recorded"],
                               1.0, delta=0.1)
        dep = self.runs[("depth", 1, "a")]["properties"]
        self.assertAlmostEqual(dep["mean_depth"] / dep["mean_depth_recorded"], 1.0, delta=0.05)
        self.assertAlmostEqual(dep["alt_read_frac"], gen.RECORDED_DEPTH["alt_frac"], delta=0.02)
        self.assertAlmostEqual(dep["spliced_read_frac"], gen.RECORDED_DEPTH["spliced_frac"], delta=0.02)


if __name__ == "__main__":
    unittest.main()
