"""The benchmark's own tests, at toy size (sf0.001, a handful of images).

    python3 -m unittest discover -s perfbench/tests -v

Each workload runs once untraced and once traced through run.py, so the
tests cover the build, the JVM harness and the output contract together.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "op_fail_frac": "frac", "pinned_mb": "MB"}
MUSEUM_ONLY = {"images_per_s": "1/s", "space_amp": "ratio"}
WORKLOADS = ("registry_warm", "museum_etl", "curation_cold")


def bench(workload, trace, *extra):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", "5", "--seconds", "1", "--trace", str(trace),
                        "--scale", "toy", *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class ToyBenchmark(unittest.TestCase):
    runs = {}

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)
        for w in WORKLOADS:
            for t in (0, 1):
                cls.runs[(w, t)] = bench(w, t)

    def test_result_line_carries_every_metric_with_its_unit(self):
        for (w, t), (_, result) in self.runs.items():
            with self.subTest(workload=w, trace=t):
                self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(result["correct"])
                self.assertGreaterEqual(result["attempted"], 1)
                self.assertEqual(result["failed"], 0)
                key = "per_layer" if t else "end_to_end"
                want = {m["name"]: m["unit"] for m in self.spec[key]}
                got = {k: v["unit"] for k, v in result["metrics"].items()}
                self.assertEqual(got, want)
                for k, v in result["metrics"].items():
                    self.assertIsInstance(v["value"], (int, float), k)

    def test_detail_line_carries_every_end_to_end_number(self):
        for w in WORKLOADS:
            detail, _ = self.runs[(w, 0)]
            want = dict(END_TO_END, **(MUSEUM_ONLY if w == "museum_etl" else {}))
            got = {k: v["unit"] for k, v in detail["end_to_end"].items()}
            self.assertEqual(got, want, w)
            self.assertEqual(detail["end_to_end"]["op_fail_frac"]["value"], 0.0)
            for k in ("setup_s", "pass_s", "op_p50_s", "op_tail_s"):
                self.assertGreater(detail["end_to_end"][k]["value"], 0.0, (w, k))

    def test_traced_registry_run_reaches_the_streaming_layer(self):
        _, result = self.runs[("registry_warm", 1)]
        self.assertGreater(result["metrics"]["streaming.batches"]["value"], 0)
        self.assertGreater(result["metrics"]["streaming.batch_s"]["value"], 0)

    def test_planted_wrong_digest_fails_the_op(self):
        with open(os.path.join(BENCH, "expected", "sf0.001.json")) as f:
            expected = json.load(f)
        victim = "q10_collect"
        rows, hi, lo = expected[victim].split(":")
        expected[victim] = f"{rows}:{hi}:{int(lo) + 1}"
        with tempfile.NamedTemporaryFile("w", suffix=".json", dir=ROOT, delete=False) as f:
            json.dump(expected, f)
        try:
            detail, result = bench("registry_warm", 0, "--expected", f.name)
        finally:
            os.unlink(f.name)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertGreater(detail["end_to_end"]["op_fail_frac"]["value"], 0.0)
        self.assertEqual(detail["failures"], [victim])

    def test_span_tree_is_consistent(self):
        eps = 1e-6  # the trace prints seconds; nanosecond sums round
        for w in WORKLOADS:
            detail, _ = self.runs[(w, 1)]
            with open(os.path.join(ROOT, detail["artifacts"], "trace.json")) as f:
                trace = json.load(f)
            spans = {s["id"]: s for s in trace["spans"]}
            kids = {}
            for s in spans.values():
                kids.setdefault(s["parent"], []).append(s)
            roots = kids.get(-1, [])
            self.assertEqual(len(roots), len(trace["result"]["ops"]), w)
            for s in spans.values():
                with self.subTest(workload=w, span=s["id"], name=s["name"]):
                    self.assertGreaterEqual(s["self_s"], -eps)
                    self.assertLessEqual(s["start_s"], s["end_s"])
                    if s["parent"] >= 0:
                        p = spans[s["parent"]]
                        self.assertEqual(p["op"], s["op"])
                        self.assertGreaterEqual(s["start_s"], p["start_s"] - eps)
                        self.assertLessEqual(s["end_s"], p["end_s"] + eps)
            for op in roots:
                with self.subTest(workload=w, op=op["label"]):
                    phases = kids.get(op["id"], [])
                    self.assertTrue(phases)
                    wall = op["end_s"] - op["start_s"]
                    children = sum(c["end_s"] - c["start_s"] for c in phases)
                    self.assertAlmostEqual(op["self_s"] + children, wall, delta=1e-5)
            if w != "museum_etl":
                names = {c["name"] for r in roots for c in kids.get(r["id"], [])}
                self.assertEqual(names, {"build", "plan", "exec"})
            self.assertIn("job", {s["name"] for s in spans.values()}, w)


if __name__ == "__main__":
    unittest.main()
