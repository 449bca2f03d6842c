#!/usr/bin/env python3
"""Self-checks of the benchmark's traced run and of its contract.

    python3 perfbench/tests/test_selfcheck.py        (from the repository root)

Each workload is run once traced (seed 1). The checks:
  - the pipeline parts (output write, checkpoint commit, driver time) sum
    to the traced op wall within 10%;
  - the kernel stage times sum to kernel.recognize_s within 10%, and the
    stage-by-stage recognition reproduces recognizeStored's text;
  - docs_in equals docs_extracted plus docs_already_done;
  - the tracing overhead is reported;
  - every per-layer metric of BENCHMARK.json is printed with its unit.
A last check runs the benchmark in a directory that holds only
BENCHMARK.json and the benchmark's own files: it must fail without
printing a result.
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace, cwd=ROOT, script=ROOT / "perfbench" / "run.py"):
    return subprocess.run(
        [sys.executable, str(script), "--workload", workload, "--seed", "1",
         "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900)


class TracedRun(unittest.TestCase):
    results = {}

    @classmethod
    def setUpClass(cls):
        for w in SPEC["workloads"]:
            p = run(w["name"], 1)
            if p.returncode != 0:
                raise AssertionError(f"{w['name']} traced run failed:\n"
                                     + p.stderr[-3000:])
            cls.results[w["name"]] = json.loads(p.stdout.strip().splitlines()[-1])

    def each(self):
        for name, r in self.results.items():
            yield name, {k: v["value"] for k, v in r["metrics"].items()}, r

    def test_result_shape(self):
        names = [m["name"] for m in SPEC["per_layer"]]
        units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        for name, _, r in self.each():
            self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(r["correct"], name)
            self.assertGreaterEqual(r["attempted"], 1)
            self.assertEqual(sorted(r["metrics"]), sorted(names), name)
            for k, v in r["metrics"].items():
                self.assertEqual(v["unit"], units[k])

    def test_pipeline_parts_sum_to_op_wall(self):
        for name, m, _ in self.each():
            parts = (m["pipeline.output_write_s"] + m["pipeline.checkpoint_commit_s"]
                     + m["pipeline.driver_s"])
            self.assertLessEqual(abs(parts - m["trace.op_s"]), 0.1 * m["trace.op_s"], name)
            self.assertLessEqual(m["check.pipeline_residual_frac"], 0.1, name)
            self.assertGreater(m["pipeline.output_write_s"], 0, name)
            self.assertGreater(m["pipeline.checkpoint_commit_s"], 0, name)

    def test_kernel_stages_sum_to_recognize(self):
        for name, m, _ in self.each():
            stages = sum(m[k] for k in (
                "img.downsample_s", "img.otsu_s", "img.deskew_s",
                "kernel.orient_s", "kernel.seg_classify_s", "kernel.layout_s"))
            self.assertLessEqual(abs(stages - m["kernel.recognize_s"]),
                                 0.1 * m["kernel.recognize_s"], name)
            self.assertLessEqual(m["check.kernel_residual_frac"], 0.1, name)
            self.assertEqual(m["check.kernel_decomp_mismatch"], 0, name)

    def test_docs_balance(self):
        for name, m, _ in self.each():
            self.assertEqual(m["pipeline.docs_in"],
                             m["pipeline.docs_extracted"] + m["pipeline.docs_already_done"],
                             name)
            self.assertEqual(m["check.docs_balance"], 0, name)

    def test_tracing_overhead_reported(self):
        for name, m, _ in self.each():
            self.assertIn("trace.overhead_s", m, name)
            self.assertGreater(m["trace.op_s"], 0, name)
            self.assertGreater(m["spark.kernel_stage_tasks"], 0, name)


class BareDirectory(unittest.TestCase):
    def test_fails_without_the_program(self):
        (ROOT / ".bench_build").mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(ROOT / "perfbench", Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("target", "project/target"))
            p = run(SPEC["workloads"][0]["name"], 0, cwd=d,
                    script=Path(d) / "perfbench" / "run.py")
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
