"""The benchmark's own tests: every workload at smoke size, untraced and
traced, prints every metric BENCHMARK.json declares, with its unit, and
passes every result check; and a copy holding only the benchmark files
fails without printing a result.

Usage (from the repository root): python3 perfbench/test_perfbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
RUN = [sys.executable, os.path.join(ROOT, "perfbench", "run.py")]

DIAGNOSTICS = {
    "ingest": ["write_mb_s=", "compact_mb_s="],
    "read": ["scan_mb_s=", "lookup_p50_ms=", "lookup_p90_ms=", "filter_p50_ms=",
             "filter_p90_ms=", "agg_p50_ms=", "agg_p90_ms="],
}


def smoke(workload, trace):
    p = subprocess.run(RUN + ["--workload", workload, "--seed", "3", "--seconds", "2",
                              "--trace", str(trace), "--smoke", "1"],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        code, lines = smoke(workload, trace)
        self.assertEqual(code, 0, "\n".join(lines[-10:]))
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        text = "\n".join(lines)
        self.assertIn("error_rate=0.0000", text)
        self.assertIn("calib_kernel_ms=", text)
        self.assertIn("storage medium=", text)
        if not trace:
            for d in DIAGNOSTICS[workload] + ["op_p90_ms=", "[sensitivity] kind=", "[size] graft data files"]:
                self.assertIn(d, text)
        self.assertEqual({w["name"] for w in SPEC["workloads"]}, set(DIAGNOSTICS))

    def test_ingest(self):
        self.check("ingest", 0)

    def test_ingest_traced(self):
        self.check("ingest", 1)

    def test_read(self):
        self.check("read", 0)

    def test_read_traced(self):
        self.check("read", 1)

    def test_fails_without_the_repository_sources(self):
        bare = os.path.join(ROOT, ".bench_work", f"bare-{os.getpid()}")
        try:
            os.makedirs(bare)
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            env = dict(os.environ, CARGO_TARGET_DIR=".bench_build")
            p = subprocess.run([sys.executable] + SPEC["command"][1:] +
                               ["--workload", "ingest", "--seed", "1", "--seconds", "1",
                                "--trace", "0"],
                               cwd=bare, env=env, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
