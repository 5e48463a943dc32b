"""The benchmark's own tests: one tiny-size run of every workload, untraced
and traced. Each must print every metric BENCHMARK.json names, with its
unit, report no failed check, and (traced) leave a trace whose spans
parse and nest inside their parents.

    python3 -m unittest discover -s layerbench -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# clock slack between the benchmark's span clock and Spark's event times
SLACK_MS = 5.0


def bench(workload, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"{workload} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


class TinyRuns(unittest.TestCase):

    def assert_result(self, res, metrics):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreater(res["attempted"], 0)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in metrics})
        for m in metrics:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"], m["name"])

    def assert_trace_nests(self, workload):
        with open(os.path.join(build.build_dir(), f"last_trace_{workload}.json")) as f:
            spans = json.load(f)
        self.assertTrue(spans)
        by_id = {s["id"]: s for s in spans if s["id"] != -1}
        for s in spans:
            self.assertLessEqual(s["start_ms"], s["end_ms"], s["name"])
            if s["parent"] == -1:
                continue
            p = by_id[s["parent"]]
            self.assertEqual(p["pass"], s["pass"])
            self.assertGreaterEqual(s["start_ms"], p["start_ms"] - SLACK_MS, (s["name"], p["name"]))
            self.assertLessEqual(s["end_ms"], p["end_ms"] + SLACK_MS, (s["name"], p["name"]))
        self.assertTrue(any(s["name"].startswith("engine.job.") for s in spans))

    def run_workload(self, workload):
        self.assert_result(bench(workload, 0), SPEC["end_to_end"])
        self.assert_result(bench(workload, 1), SPEC["per_layer"])
        self.assert_trace_nests(workload)

    def test_contract_workloads_exist(self):
        self.assertLessEqual({w["name"] for w in SPEC["workloads"]}, set(run.WORKLOADS))

    def test_indexed_pipeline(self):
        self.run_workload("indexed_pipeline")

    def test_text_dedup(self):
        self.run_workload("text_dedup")

    def test_iterate(self):
        self.run_workload("iterate")

    def test_stream_ingest(self):
        self.run_workload("stream_ingest")


if __name__ == "__main__":
    unittest.main()
