"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

They run every workload at sf0.001 with no warm-up and one timed pass (two
when traced), so they take a few minutes; the first run also builds the
engine.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(path):
    with open(path) as fh:
        return json.load(fh)


SPEC = load(os.path.join(ROOT, "BENCHMARK.json"))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEED = 5


def bench(workload, trace=0, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "0", "--trace", str(trace),
         "--scale", "0.001", "--warmup-passes", "0", "--min-passes", "1",
         "--max-passes", "3" if trace else "1",
         *extra],
        capture_output=True, text=True, cwd=ROOT, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stdout + p.stderr


class EveryMetricEveryWorkload(unittest.TestCase):
    def check(self, trace, spec_key):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, result, log = bench(w, trace)
                self.assertEqual(code, 0, log[-3000:])
                self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
                got = {k: v["unit"] for k, v in result["metrics"].items()}
                self.assertEqual(got, want)
                for k, v in result["metrics"].items():
                    self.assertIsInstance(v["value"], (int, float), k)

    def test_end_to_end_metrics(self):
        self.check(0, "end_to_end")

    def test_per_layer_metrics_and_nested_job_spans(self):
        self.check(1, "per_layer")
        for w in WORKLOADS:
            with self.subTest(workload=w):
                path = os.path.join(HERE, "out", f"{w}-seed{SEED}-trace1.spans.jsonl")
                with open(path) as fh:
                    spans = [json.loads(l) for l in fh]
                ops = {s["id"]: s for s in spans if s["kind"] == "op"}
                jobs = [s for s in spans if s["kind"] == "job"]
                self.assertTrue(ops and jobs)
                for j in jobs:
                    op = ops[j["parent"]]
                    self.assertLessEqual(op["start_ms"], j["start_ms"], j)
                    self.assertLessEqual(j["end_ms"], op["end_ms"], j)
                self.assertTrue(all(s["seed"] == SEED for s in spans))


class OneWorkloadList(unittest.TestCase):
    def test_workloads_json_defines_exactly_the_declared_workloads(self):
        self.assertEqual(sorted(load(os.path.join(HERE, "workloads.json"))), sorted(WORKLOADS))


class CorruptedPin(unittest.TestCase):
    def test_wrong_pinned_checksum_fails_the_run(self):
        pinned = load(os.path.join(HERE, "expected.json"))["sf0.001"]
        name = "q13_status_rate_by_year"
        rows, ck = pinned[name].split(":")
        pinned = dict(pinned, **{name: f"{rows}:{int(ck) + 1}"})
        with tempfile.NamedTemporaryFile("w", suffix=".json", dir=HERE, delete=False) as fh:
            json.dump(pinned, fh)
        try:
            code, result, log = bench("elt_pipeline", 0, "--expected", fh.name)
        finally:
            os.unlink(fh.name)
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"] / result["attempted"], 0)
        self.assertIn(name, log)


if __name__ == "__main__":
    unittest.main()
