#!/usr/bin/env python3
"""Tests of the benchmark itself: a tiny run of every workload, untraced
and traced, must print every metric with its unit and sample count and
count no failures; a planted wrong answer must count as a failure; and
the runner must refuse to run without the program's sources.

    python3 perfbench/test_perfbench.py
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

# metrics each workload reports beside the contract's, untraced / traced
DETAIL = {
    "serve_read": [
        "read_ops_per_s", "read_interval_p50_ms", "read_timepoint_p50_ms",
        "current_value_p50_ms", "read_grid_p50_ms", "read_p90_ms"],
    "batch_mixed": [
        "batch_qps", "admit_docs_per_s", "append_values_per_s", "append_p50_ms",
        "store_bytes_per_value"],
}
LAYERS = {
    "serve_read": [
        "network.self_ms", "network.bytes_per_row", "engine.call_ms",
        "sources.rows_read_per_row_returned"],
    "batch_mixed": [
        "operators.build_ms", "operators.stat_s", "extensions.hybrid_rrf_s",
        "streaming.admit_batch_ms", "streaming.kept_ratio", "extensions.textindex_files",
        "extensions.textindex_compactions", "engine.append_ms", "engine.maintain_ms",
        "sources.bytes_written_per_value", "sources.files_per_day", "sources.index_bytes"],
}


def run(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, str(Path(cwd) / "perfbench" / "run.py"), *args],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=900)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    return p.returncode, lines, p.stderr


class TinyRuns(unittest.TestCase):
    def tiny(self, workload, trace, *extra):
        code, lines, err = run("--workload", workload, "--seed", "3", "--seconds", "8",
                               "--trace", str(trace), "--tiny", *extra)
        self.assertEqual(code, 0, err[-2000:])
        return json.loads(lines[-2]), json.loads(lines[-1])

    def check_metrics(self, final, detail, contract, extra):
        self.assertEqual(set(final), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(final["metrics"]), {m["name"] for m in contract})
        for m in contract:
            self.assertEqual(final["metrics"][m["name"]]["unit"], m["unit"])
        for name in [m["name"] for m in contract] + extra:
            self.assertIn(name, detail, name)
            self.assertTrue(detail[name]["unit"], name)
            self.assertGreaterEqual(detail[name]["n"], 1, name)

    def test_every_workload(self):
        for w in DETAIL:
            with self.subTest(workload=w, trace=0):
                detail, final = self.tiny(w, 0)
                self.check_metrics(final, detail["detail"], SPEC["end_to_end"], DETAIL[w])
                self.assertEqual(final["failed"], 0, detail["failures"])  # fail_ratio 0
                self.assertTrue(final["correct"])
                self.assertGreater(final["attempted"], 0)
                self.assertIn("steal_ticks_delta", detail["host"])
            with self.subTest(workload=w, trace=1):
                detail, final = self.tiny(w, 1)
                self.check_metrics(final, detail["detail"], SPEC["per_layer"], LAYERS[w])
                self.assertEqual(final["failed"], 0, detail["failures"])

    def test_planted_wrong_answer_is_a_failure(self):
        for w in DETAIL:
            with self.subTest(workload=w):
                _, final = self.tiny(w, 0, "--plant-wrong")
                self.assertGreaterEqual(final["failed"], 1)
                self.assertFalse(final["correct"])


class Refusal(unittest.TestCase):
    def test_refuses_without_program_sources(self):
        bare = BENCH / "work" / "bare-checkout"
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(BENCH, bare / "perfbench",
                        ignore=shutil.ignore_patterns("target", "work", "out", "__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        try:
            code, lines, _ = run("--workload", "serve_read", "--seed", "1", "--seconds", "1",
                                 "--trace", "0", cwd=bare)
            self.assertNotEqual(code, 0)
            self.assertFalse(any(l.startswith("{") for l in lines))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
