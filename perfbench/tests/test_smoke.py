"""Runs of the benchmark command itself.

The bare-directory test always runs (it needs no build). The smoke runs
start a JVM and Spark for each of the four workloads, so they run only
when PERFBENCH_SMOKE=1:

    PERFBENCH_SMOKE=1 python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
SMOKE = os.environ.get("PERFBENCH_SMOKE") == "1"


def run(cwd, workload, seconds=2, extra=()):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", str(seconds), "--trace", "0", *extra],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)


class BareDirectory(unittest.TestCase):
    def test_fails_without_the_program(self):
        """In a directory holding only BENCHMARK.json and the benchmark's
        own files, the command exits non-zero and prints no result."""
        bare = os.path.join(HERE, ".work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            p = run(bare, "log_stream")
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


@unittest.skipUnless(SMOKE, "set PERFBENCH_SMOKE=1 to run the smoke runs")
class Smoke(unittest.TestCase):
    def check(self, workload):
        p = run(ROOT, workload, extra=["--smoke"])
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0, p.stderr[-3000:])
        self.assertTrue(result["correct"])

    def test_log_stream(self):
        self.check("log_stream")

    def test_log_dashboard(self):
        self.check("log_dashboard")

    def test_corpus_batch(self):
        self.check("corpus_batch")

    def test_corpus_delta(self):
        self.check("corpus_delta")


if __name__ == "__main__":
    unittest.main()
