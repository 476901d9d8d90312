#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark harness. From the repository root:

    python3 perfbench/test_harness.py

Checks that the same seed gives byte-identical inputs and identical
per-layer Spark counters, that each workload's output check rejects a
corrupted result (one dropped hit, a cited text the store does not hold,
two canonical documents per cluster, an index missing a row), and that the metric names run.py emits are the
ones BENCHMARK.json declares. Takes a few minutes: it starts five JVMs.
"""
import importlib.util
import json
import os
import shutil
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
_spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(HERE, "run.py"))
run = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(run)

TINY_DOCS = 40


def counters(res):
    """The deterministic part of a traced run: per span, its Spark work."""
    return [(s["name"], s["request"], s["jobs"], s["tasks"], s["shuffle_bytes"],
             s["input_bytes"], s["spill_bytes"]) for s in res["spans"]]


class HarnessTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.jars = run.spark_jars()
        cls.classes = run.build(cls.jars)
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)
        with open(os.path.join(HERE, "layers.json")) as f:
            cls.layers = json.load(f)

    def test_inputs_repeat_and_checks_reject_corrupted_results(self):
        rundir = os.path.join(run.BUILD, "runs", "selftest-%d" % os.getpid())
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            log = run.java(self.classes, self.jars, rundir, "perfbench.SelfTest", [rundir])
        finally:
            shutil.rmtree(rundir, ignore_errors=True)
        self.assertIn("SELFTEST OK", log)

    def test_same_seed_gives_identical_counters(self):
        for w in run.WORKLOADS:
            a = run.run_jvm(self.classes, self.jars, w, 5, 1, 1, TINY_DOCS)
            b = run.run_jvm(self.classes, self.jars, w, 5, 1, 1, TINY_DOCS)
            self.assertTrue(a["spans"], w)
            self.assertEqual(counters(a), counters(b), w)
            self.assertEqual(a["failed"], 0, (w, a["errors"]))
            self.assertEqual(a["persisted_after_run"], 0, w)
            names = sorted(run.per_layer(a, self.layers))
            self.assertEqual(names, sorted(m["name"] for m in self.bench["per_layer"]))
            self.assertEqual(sorted(run.end_to_end(a)),
                             sorted(m["name"] for m in self.bench["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
