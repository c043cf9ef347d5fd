"""Tiny-size tests of the benchmark harness (fixtures at sf 0.001).

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. Each test starts the benchmark as a user
would, so the first one also builds it. For every workload: a normal run is
correct and prints every metric, and a run with one result damaged
(--corrupt) exits nonzero.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
RUN = ["python3", "perfbench/run.py"]
WORKLOADS = ("ticket_sync", "sql_analytics", "corpus_curation")
END_TO_END = {"op_p50_s", "op_tail_s", "rows_per_s", "stored_bytes_per_row",
              "heap_peak_mb", "setup_s"}


def bench(workload, *extra, cwd=ROOT, trace=0, seed=7):
    return subprocess.run(
        RUN + ["--workload", workload, "--seed", str(seed), "--seconds", "1",
               "--trace", str(trace), "--sf", "0.001", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def result(p):
    return json.loads(p.stdout.strip().splitlines()[-1])


class TinyWorkloads(unittest.TestCase):

    def check_ok(self, workload):
        p = bench(workload)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        last = p.stdout.strip().splitlines()[-1]
        self.assertLessEqual(len(last.encode()), 1536)
        r = json.loads(last)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(set(r["metrics"]), END_TO_END)
        for name, m in r["metrics"].items():
            self.assertGreater(m["value"], 0, name)

    def check_corrupt_fails(self, workload):
        p = bench(workload, "--corrupt")
        self.assertNotEqual(p.returncode, 0, p.stdout[-2000:])
        self.assertIn("INCORRECT", p.stderr)

    def test_ticket_sync(self):
        self.check_ok("ticket_sync")

    def test_ticket_sync_corrupt(self):
        self.check_corrupt_fails("ticket_sync")

    def test_sql_analytics(self):
        self.check_ok("sql_analytics")

    def test_sql_analytics_corrupt(self):
        self.check_corrupt_fails("sql_analytics")

    def test_corpus_curation(self):
        self.check_ok("corpus_curation")

    def test_corpus_curation_corrupt(self):
        self.check_corrupt_fails("corpus_curation")

    def test_traced_run_reports_every_layer_metric(self):
        declared = {m["name"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
        p = bench("sql_analytics", trace=1)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = result(p)
        self.assertTrue(r["correct"])
        self.assertEqual(set(r["metrics"]), declared)
        self.assertGreater(r["metrics"]["sql.statements"]["value"], 0)
        self.assertGreater(r["metrics"]["exec.jobs"]["value"], 0)
        self.assertGreater(r["metrics"]["trace.ops"]["value"], 0)


class BareCheckout(unittest.TestCase):

    def test_fails_without_the_library_sources(self):
        bare = ROOT / "perfbench" / "work" / "bare-checkout"
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("target", "work", "out"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        try:
            p = bench("ticket_sync", cwd=bare)
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        lines = p.stdout.strip().splitlines()
        self.assertFalse(lines and lines[-1].startswith("{"), p.stdout[-500:])


if __name__ == "__main__":
    sys.exit(unittest.main())
