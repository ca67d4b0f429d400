"""The benchmark's own tests: every workload at toy size.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Each test runs `run.py` end to end (build on first use, generate, JVM,
oracle check), so the whole file takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import compare  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload, trace=0, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "toy",
         *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=1200)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


class WorkloadTest(unittest.TestCase):
    def check_metrics(self, lines, res, declared):
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float))
            # the human-readable line carries the same name and unit
            self.assertTrue(any(l.startswith(f"#   {m['name']} = ") and
                                l.endswith(f" {m['unit']}") for l in lines), m["name"])

    def test_end_to_end_metrics(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                lines, res = run(w["name"])
                self.check_metrics(lines, res, BENCH["end_to_end"])
                for m in BENCH["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced_run_emits_spans(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                lines, res = run(w["name"], 1)
                self.check_metrics(lines, res, BENCH["per_layer"])
                path = os.path.join(ROOT, ".bench_build", "perfbench", "work",
                                    w["name"], "out", "spans.jsonl")
                with open(path) as f:
                    spans = [json.loads(l) for l in f]
                ids = {s["id"] for s in spans}
                children = [s for s in spans if s["parent"] != 0]
                self.assertTrue(children)
                for s in children:
                    self.assertIn(s["parent"], ids)
                    self.assertIn(s["op"], ids)
                self.assertTrue(any(l.startswith("# trace:") and "overhead" in l
                                    for l in lines))

    def test_trickle_workload(self):
        lines, res = run("dx_trickle")
        self.check_metrics(lines, res, BENCH["end_to_end"])

    def test_wrong_expected_result_fails(self):
        for w in ("dx_trickle", "registry_mix"):
            with self.subTest(workload=w):
                _, res = run(w, 0, "--wrong-oracle")
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)


class CompareTest(unittest.TestCase):
    def test_verdicts(self):
        base = [1.00, 1.01, 0.99, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00, 1.02]
        faster = [x * 0.8 for x in base]
        slower = [x * 1.3 for x in base]
        noisy = [0.5, 1.5, 0.6, 1.4, 0.7, 1.3, 0.5, 1.5, 0.6, 1.4]
        v = compare.verdict
        self.assertEqual(v(base, faster, list(zip(base, faster)), "lower", 0.1), "gain")
        self.assertEqual(v(base, slower, list(zip(base, slower)), "lower", 0.1), "regression")
        self.assertEqual(v(base, base, list(zip(base, base)), "lower", 0.1), "within bound")
        self.assertEqual(v(base, noisy, list(zip(base, noisy)), "lower", 0.1), "unresolved")
        self.assertEqual(v(base, faster, list(zip(base, faster)), "higher", 0.1), "regression")


if __name__ == "__main__":
    unittest.main()
