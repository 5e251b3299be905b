"""Tests of the benchmark itself. From the repository root:

    python3 -m unittest discover -s graftbench -p 'test_*.py'

The checker tests are pure Python. The others build graft and the
benchmark, run the Scala self-test (generators and oracle), and run every
workload at tiny size, untraced and traced, through the checker.
"""
import json
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import check  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def output(trace, correct=True, failed=0, drop=None, unit=None, sentinel=(80.0, 82.0)):
    names = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    metrics = {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in names if m["name"] != drop}
    if unit:
        metrics[names[0]["name"]]["unit"] = unit
    report = {"trace": trace, "telemetry": {"sentinel_ms_start": sentinel[0], "sentinel_ms_end": sentinel[1]}}
    last = {"correct": correct, "attempted": 10, "failed": failed, "metrics": metrics}
    return ["graftbench: ...", "REPORT " + json.dumps(report), json.dumps(last)]


class CheckerTest(unittest.TestCase):
    def test_complete_output_passes(self):
        self.assertEqual(check.problems(output(0), SPEC), [])
        self.assertEqual(check.problems(output(1), SPEC), [])

    def test_missing_metric_fails(self):
        p = check.problems(output(0, drop="run_s"), SPEC)
        self.assertTrue(any("missing metric run_s" in x for x in p), p)

    def test_wrong_unit_fails(self):
        self.assertTrue(check.problems(output(1, unit="furlongs"), SPEC))

    def test_failed_answer_check_fails(self):
        self.assertTrue(check.problems(output(0, correct=False, failed=1), SPEC))

    def test_contention_fails(self):
        p = check.problems(output(0, sentinel=(80.0, 140.0)), SPEC)
        self.assertTrue(any("contention" in x for x in p), p)

    def test_spec_names_are_unique_and_bounded(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(SPEC["per_layer"]), 128)
        self.assertTrue(all(m["bound"] <= 0.25 for m in SPEC["end_to_end"]))


class BenchmarkRunTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        if not build.ensure_built(ROOT):
            raise unittest.SkipTest("build failed")

    def test_selftest(self):
        r = subprocess.run(["java", "-cp", build.classpath(ROOT), "graftbench.SelfTest"],
                           cwd=ROOT, capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stdout)

    def test_tiny_runs_pass_their_checks_and_emit_every_metric(self):
        for w in [w["name"] for w in SPEC["workloads"]]:
            for trace in ("0", "1"):
                with self.subTest(workload=w, trace=trace):
                    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                                        "--workload", w, "--seed", "3", "--seconds", "1",
                                        "--trace", trace, "--tiny"],
                                       cwd=ROOT, capture_output=True, text=True, timeout=300)
                    self.assertEqual(r.returncode, 0, r.stdout[-3000:])
                    p = [x for x in check.problems(r.stdout.splitlines(), SPEC)
                         if not x.startswith("contention")]
                    self.assertEqual(p, [])


if __name__ == "__main__":
    unittest.main()
