"""The benchmark's own tests: every workload runs at scale factor 0.001 for a
few seconds (smoke mode), the load-invariant counters of two traced runs at
one seed repeat exactly, another seed changes the statement stream, and the
benchmark refuses to run without the engine sources.

    python3 -m unittest perfbench/test_perfbench.py     (from the repository root)

Each run starts a JVM; the whole file takes several minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


def run(workload, seed, seconds, trace, cwd=ROOT):
    """(exit code, run record, result) of one smoke run."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        return p.returncode, None, p.stderr[-2000:]
    return p.returncode, json.loads(lines[-2])["run"], json.loads(lines[-1])


def values(result):
    return {k: v["value"] for k, v in result["metrics"].items()}


class Smoke(unittest.TestCase):
    def check_smoke(self, workload):
        code, record, result = run(workload, seed=2, seconds=1, trace=0)
        self.assertEqual(code, 0, result)
        self.assertTrue(result["correct"], record["failures"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        for name, v in values(result).items():
            self.assertGreater(v, 0, name)
        return record

    def test_olap_batch(self):
        self.check_smoke("olap_batch")

    def test_llm_pipeline(self):
        self.check_smoke("llm_pipeline")

    def test_interactive_mixed(self):
        self.check_smoke("interactive_mixed")


class Repeat(unittest.TestCase):
    """Load-invariant counters of two traced runs at one seed are equal."""
    COUNTERS = ["engine.jobs_per_stmt", "engine.stages_per_stmt", "engine.tasks_per_stmt",
                "engine.shuffle_write_bytes", "engine.shuffle_read_bytes",
                "engine.codegen_compiles", "construct.jobs_per_pass"]

    def traced_twice(self, workload, seconds):
        out = []
        for _ in range(2):
            code, record, result = run(workload, seed=1, seconds=seconds, trace=1)
            self.assertEqual(code, 0, result)
            self.assertTrue(result["correct"], record["failures"])
            out.append((record, values(result)))
        return out

    def check_counters(self, workload):
        (r1, a), (r2, b) = self.traced_twice(workload, seconds=1)
        for c in self.COUNTERS:
            with self.subTest(counter=c):
                self.assertEqual(a[c], b[c], c)
        self.assertGreater(a["engine.jobs_per_stmt"], 0)
        self.assertEqual(r1["stream_sha256"], r2["stream_sha256"])
        _, other, _ = run(workload, seed=2, seconds=1, trace=0)
        self.assertNotEqual(other["stream_sha256"], r1["stream_sha256"])

    def test_olap_batch_counters(self):
        self.check_counters("olap_batch")

    def test_llm_pipeline_counters(self):
        self.check_counters("llm_pipeline")

    def test_writer_counters(self):
        (r1, a), (r2, b) = self.traced_twice("interactive_mixed", seconds=12)
        self.assertEqual(r1["detail"]["repeat_commits"], 6)
        self.assertEqual(r2["detail"]["repeat_commits"], 6)
        for c in ["sources.write_amplification", "sources.commit_files_written"]:
            with self.subTest(counter=c):
                self.assertEqual(a[c], b[c], c)
                self.assertGreater(a[c], 0, c)


class Refuses(unittest.TestCase):
    def test_without_engine_sources(self):
        bare = os.path.join(OUT, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "olap_batch",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
