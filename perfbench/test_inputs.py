#!/usr/bin/env python3
"""Tests of the benchmark itself: the seed alone fixes every input.

    python3 perfbench/test_inputs.py

For each workload, generates the inputs (the bronze backlog and its split,
the query tables, the enrich items and the stub's latency and fault
schedule) twice with one seed and once with another, without running the
workload, and compares their digests.
"""
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class SeedFixesInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.jars = run.spark_jars()
        run.build(cls.jars)

    def digest(self, workload, seed):
        work = os.path.join(run.WORK, f"test-{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        try:
            args = run.argparse.Namespace(workload=workload, seed=seed, seconds=4, trace=0)
            jvm = run.run_jvm(args, self.jars, work, os.path.join(work, "spans.jsonl"),
                              gen_only=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertTrue(all(c["ok"] for c in jvm["checks"]), jvm["checks"])
        return jvm["inputs"]["digest"]

    def check(self, workload):
        first = self.digest(workload, 1)
        self.assertEqual(first, self.digest(workload, 1), "same seed, different inputs")
        self.assertNotEqual(first, self.digest(workload, 2), "different seeds, same inputs")

    def test_spine(self):
        self.check("spine")

    def test_enrich_http(self):
        self.check("enrich_http")

    def test_queries(self):
        self.check("queries")


if __name__ == "__main__":
    unittest.main()
