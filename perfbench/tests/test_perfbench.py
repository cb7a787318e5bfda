"""Tests of the benchmark's own code.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests -v
"""
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.dirname(HERE)
ROOT = os.path.dirname(PKG)
sys.path.insert(0, PKG)

import gen_tables  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


class TablesTest(unittest.TestCase):
    def test_same_seed_gives_identical_files(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            gen_tables.write(a, 5, 0.001)
            gen_tables.write(b, 5, 0.001)
            gen_tables.write(c, 6, 0.001)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), len(gen_tables.TABLES))
            _, diff, errs = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((diff, errs), ([], []))
            _, diff, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertIn("lineitem.parquet", diff)

    def test_subset_matches_full_generation(self):
        with tempfile.TemporaryDirectory() as d:
            gen_tables.write(os.path.join(d, "all"), 3, 0.001)
            gen_tables.write(os.path.join(d, "one"), 3, 0.001, ["documents"])
            self.assertTrue(filecmp.cmp(os.path.join(d, "all", "documents.parquet"),
                                        os.path.join(d, "one", "documents.parquet"), shallow=False))


class GeneratorTest(unittest.TestCase):
    """Frames are deterministic and the expected-state model agrees
    with Changelog.apply (perfbench.SelfTest, in a JVM)."""

    def test_frames_and_model(self):
        cwd = os.getcwd()
        os.chdir(ROOT)
        try:
            import build
            import run
            classes = build.build()
            work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", "selftest"))
            shutil.rmtree(work, ignore_errors=True)
            os.makedirs(work)
            out = os.path.join(work, "selftest.json")
            cmd, env = run.jvm(classes, work, "perfbench.SelfTest", [work, out])
            subprocess.run(cmd, env=env, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           timeout=300)
            with open(out) as fh:
                r = json.load(fh)
            shutil.rmtree(work, ignore_errors=True)
        finally:
            os.chdir(cwd)
        self.assertTrue(r["frames_same_seed_identical"])
        self.assertTrue(r["frames_other_seed_differ"])
        self.assertTrue(r["model_matches_before_truncate"])
        self.assertTrue(r["model_matches_after_truncate"])
        cov = r["coverage"]
        self.assertGreater(cov["toast_updates"], 0)
        self.assertGreater(cov["reinserts"], 0)
        self.assertGreater(cov["aborted_events"], 0)
        self.assertTrue(cov["truncated"])


class MetricsTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(PKG, "metrics.json")) as fh:
            self.spec = json.load(fh)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)

    def test_names(self):
        names = [m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]
        names += [w["name"] for w in self.bench["workloads"]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_benchmark_json_matches_spec(self):
        strip = lambda ms: [{k: v for k, v in m.items() if k != "moves"} for m in ms]
        self.assertEqual(self.bench["end_to_end"], self.spec["end_to_end"])
        self.assertEqual(self.bench["per_layer"], strip(self.spec["per_layer"]))
        self.assertIn("setup_s", [m["name"] for m in self.bench["end_to_end"]])

    def test_every_layer_metric_names_what_it_moves(self):
        e2e = {m["name"] for m in self.bench["end_to_end"]}
        workloads = {w["name"] for w in self.bench["workloads"]}
        for m in self.spec["per_layer"]:
            if m["name"].startswith("bench."):
                continue  # the benchmark's own validity figures
            self.assertTrue(m["moves"], m["name"])
            for mv in m["moves"]:
                self.assertIn(mv["metric"], e2e, m["name"])
                self.assertIn(mv["workload"], workloads, m["name"])

    def test_launcher_knows_every_workload(self):
        import run
        self.assertEqual(set(run.TABLES), {w["name"] for w in self.bench["workloads"]})


if __name__ == "__main__":
    unittest.main()
