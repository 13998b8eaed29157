#!/usr/bin/env python3
"""The benchmark's own tests, at a tiny input size.

    python3 graftbench/test_graftbench.py        # about five minutes

Each test runs graftbench/run.py with the documented arguments and checks
the record: the last line parses, carries exactly the four result keys and
every metric BENCHMARK.json names, with its unit. A corrupted operation
must show as a failure, and a directory holding only the benchmark (no
graft sources) must fail without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = "0.05"

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    SPEC = json.load(f)


def run(workload, trace, *extra, cwd=ROOT):
    cmd = [sys.executable, "graftbench/run.py", "--workload", workload, "--seed", "11",
           "--seconds", "1", "--trace", str(trace), "--size", TINY, *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


class RecordTest(unittest.TestCase):
    def record(self, workload, trace, *extra):
        res = run(workload, trace, *extra)
        self.assertEqual(res.returncode, 0, res.stderr[-3000:])
        lines = res.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        detail = json.loads(lines[-2])["detail"]
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertIsInstance(last["attempted"], int)
        self.assertIsInstance(last["failed"], int)
        self.assertGreaterEqual(last["attempted"], 1)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(last["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = last["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        return last, detail

    def assert_clean(self, last, detail):
        self.assertTrue(last["correct"], detail["failures"])
        self.assertEqual(last["failed"], 0)
        self.assertEqual(detail["fail_ratio"], 0.0)

    def test_mj_batch_untraced(self):
        last, detail = self.record("mj_batch", 0)
        self.assert_clean(last, detail)
        m = last["metrics"]
        self.assertEqual(m["ok_ratio"]["value"], 1.0)
        for name in ("setup_s", "pass_s", "op_p50_s", "pass_cpu_s", "peak_heap_mb"):
            self.assertGreater(m[name]["value"], 0, name)
        # at least three timed passes run, however short the window
        self.assertGreaterEqual(len(detail["pass_s_each"]), 3)
        self.assertEqual(detail["op_samples"], 5 * len(detail["pass_s_each"]))
        # the heap metric is a percentile of the per-GC live-heap readings
        self.assertTrue(detail["heap_live_mb_each_gc"])
        self.assertLessEqual(m["peak_heap_mb"]["value"], detail["heap_live_max_mb"])
        self.assertIn(m["peak_heap_mb"]["value"], detail["heap_live_mb_each_gc"])
        self.assertGreater(detail["canary_s"]["before"], 0)
        self.assertGreater(detail["canary_s"]["after"], 0)
        self.assertTrue(all(i["rows"] > 0 for i in detail["inputs"]))

    def test_mj_batch_traced(self):
        last, detail = self.record("mj_batch", 1)
        self.assert_clean(last, detail)
        m = {k: v["value"] for k, v in last["metrics"].items()}
        for op in ("mj_wordcount", "mj_grep", "mj_hashcheck", "mj_rangesort"):
            self.assertGreater(m[f"operators.{op}.jobs"], 0, op)
            self.assertGreater(m[f"operators.{op}.task_s"], 0, op)
        self.assertGreater(m["sources.read_s"], 0)
        self.assertGreater(m["sources.write_s"], 0)
        self.assertGreater(m["functions.minhash_rows_per_s"], 0)
        self.assertGreater(m["functions.bloom_rows_per_s"], 0)
        self.assertEqual(m["streaming.epochs"], 0)
        spans = detail["spans"]
        self.assertTrue(spans)
        for s in spans:
            self.assertLessEqual(s["self_s"], s["seconds"] + 1e-9)
            self.assertEqual(s["run_id"], detail["run_id"])
        layers = {s["layer"] for s in spans}
        self.assertTrue({"session", "sources", "functions", "operators"} <= layers, layers)

    def test_corpus_ingest_untraced(self):
        last, detail = self.record("corpus_ingest", 0)
        self.assert_clean(last, detail)
        self.assertEqual(detail["op_samples"], 3 * len(detail["pass_s_each"]))
        self.assertEqual(last["metrics"]["ok_ratio"]["value"], 1.0)
        # planted duplicates are realised: exact copies share the text, and
        # every near copy reaches the near-duplicate threshold
        planted = {i["name"]: i["rows"] for i in detail["inputs"]}
        self.assertGreater(planted["documents_exact_copies"], 0)
        self.assertGreater(planted["documents_near_copies"], 0)
        self.assertEqual(planted["documents_near_copies_at_threshold"],
                         planted["documents_near_copies"])

    def test_corpus_ingest_traced(self):
        last, detail = self.record("corpus_ingest", 1)
        self.assert_clean(last, detail)
        m = {k: v["value"] for k, v in last["metrics"].items()}
        self.assertEqual(m["streaming.epochs"], 3)
        self.assertGreater(m["streaming.jobs_per_epoch"], 1)
        self.assertGreater(m["streaming.laps_drain_s"], 0)
        for name in ("write_s", "append_s", "compact_s", "ls_s", "read_s", "files_written"):
            self.assertGreater(m[f"sources.{name}"], 0, name)
        self.assertGreater(m["sources.bytes_per_input_byte"], 1)
        self.assertEqual(m["operators.mj_wordcount.jobs"], 0)

    def test_corrupted_output_counts_as_failure(self):
        last, detail = self.record("mj_batch", 0, "--corrupt", "mj_wordcount")
        self.assertFalse(last["correct"])
        self.assertGreater(last["failed"], 0)
        self.assertGreater(detail["fail_ratio"], 0)
        self.assertLess(last["metrics"]["ok_ratio"]["value"], 1.0)
        self.assertTrue(all(f.endswith(":mj_wordcount") for f in detail["failures"]))

    def test_fails_without_graft_sources(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            res = run("mj_batch", 0, cwd=d)
            self.assertNotEqual(res.returncode, 0)
            self.assertEqual(res.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main(verbosity=2)
