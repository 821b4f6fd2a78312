"""The benchmark's own tests: its checks catch wrong output, its traced
runs attribute jobs consistently, and a run leaves no files behind.

    python3 -m unittest discover -s perfbench/tests -v

Each test launches the benchmark (one Spark JVM) with a short run, so the
suite takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
REPO = Path(__file__).resolve().parents[2]
RUN = [sys.executable, str(REPO / "perfbench" / "run.py")]


def bench(*args, cwd=REPO):
    """Run the benchmark; returns (exit code, parsed last stdout line or
    None, stderr)."""
    p = subprocess.run(RUN + list(args), cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    return p.returncode, last, p.stderr


def tmp_entries():
    return {p.name for p in Path(tempfile.gettempdir()).iterdir()
            if p.name.startswith(("graft_", "graft-", "spark-", "blockmgr-"))}


class BenchTest(unittest.TestCase):

    def test_run_leaves_nothing_behind(self):
        before_tmp = tmp_entries()
        before_repo = {p.name for p in REPO.iterdir()}
        code, out, err = bench("--workload", "etl_mor_rw", "--seed", "3", "--seconds", "1")
        self.assertEqual(code, 0, err[-2000:])
        self.assertTrue(out["correct"], err[-2000:])
        self.assertEqual(set(out["metrics"]), {"op_s_p50", "ops_per_min", "setup_s"})
        self.assertFalse((REPO / ".bench_run").exists())
        self.assertEqual({p.name for p in REPO.iterdir()} - before_repo - {".bench_build"}, set())
        self.assertEqual(tmp_entries() - before_tmp, set())

    def test_dropped_curated_row_fails_the_run(self):
        expected = {"etl_mor_rw": ["merge_on_read_matches_corpus:commit"],
                    "etl_daily": ["rewrite_matches_corpus:commit", "mor_equals_rewrite:commit"]}
        for workload, failures in expected.items():
            with self.subTest(workload=workload):
                code, out, err = bench("--workload", workload, "--seed", "4", "--seconds", "1",
                                       "--inject", "drop_row")
                self.assertEqual(code, 0, err[-2000:])
                self.assertFalse(out["correct"])
                for f in failures:
                    self.assertIn(f"check failed: {f}", err)

    def test_altered_query_result_fails_the_run(self):
        code, out, err = bench("--workload", "query_iter", "--seed", "5", "--seconds", "1",
                               "--inject", "alter_query")
        self.assertEqual(code, 0, err[-2000:])
        self.assertFalse(out["correct"])
        self.assertIn("rows differ from oracle", err)

    def test_child_span_jobs_sum_to_parent(self):
        for workload in ("query_iter", "etl_mor_rw"):
            with self.subTest(workload=workload), tempfile.TemporaryDirectory() as d:
                spans_file = Path(d) / "spans.jsonl"
                code, out, err = bench("--workload", workload, "--seed", "6", "--seconds", "1",
                                       "--trace", "1", "--spans-out", str(spans_file))
                self.assertEqual(code, 0, err[-2000:])
                self.assertTrue(out["correct"], err[-2000:])
                spans = {s["id"]: s for s in map(json.loads, spans_file.read_text().splitlines())}
                # the timed operations: an ETL day's write and reads, or a query
                ops = [s for s in spans.values() if s["parent"] == -1 and (
                    s["name"] in ("write", "rollup") or s["name"].startswith(("read:", "query:")))]
                self.assertTrue(ops)
                if workload == "etl_mor_rw":
                    self.assertIn("write", [op["name"] for op in ops])
                for op in ops:
                    kids = [spans[c] for c in spans if spans[c]["parent"] == op["id"]]
                    # every job of the operation belongs to a child span
                    self.assertEqual(op["self_jobs"], 0, op["name"])
                    self.assertEqual(sum(k["jobs"] for k in kids), op["jobs"], op["name"])
                    # every job launched inside the span carries it
                    self.assertEqual(op["jobs"], op["window_jobs"], op["name"])
                    self.assertGreater(op["jobs"], 0)
                metrics = out["metrics"]
                self.assertLess(metrics["trace.unattributed_frac"]["value"], 0.2)
                self.assertEqual(metrics["trace.unattributed_jobs"]["value"], 0)

    def test_fails_without_the_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(REPO / "BENCHMARK.json", d)
            shutil.copytree(REPO / "perfbench", Path(d) / "perfbench")
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "etl_daily",
                                "--seed", "1", "--seconds", "1"], cwd=d,
                               capture_output=True, text=True, timeout=120)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
            self.assertEqual(sorted(x.name for x in Path(d).iterdir()),
                             ["BENCHMARK.json", "perfbench"])

    def test_query_tables_follow_the_seed(self):
        sys.path.insert(0, str(REPO / "perfbench"))
        import tables
        with tempfile.TemporaryDirectory() as d:
            tables.generate(Path(d) / "a", 7, 0.001)
            tables.generate(Path(d) / "b", 7, 0.001)
            tables.generate(Path(d) / "c", 8, 0.001)
            read = lambda sub: {p.name: p.read_bytes() for p in (Path(d) / sub).iterdir()}
            self.assertEqual(read("a"), read("b"))
            self.assertNotEqual(read("a"), read("c"))


if __name__ == "__main__":
    unittest.main()
