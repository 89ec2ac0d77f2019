"""Self-tests of the benchmark. Run from the repository root:

  python3 -m unittest discover -s perfbench/tests -v

They build the program and the benchmark (cached), run the checker
self-tests (perfbench.SelfTest: every checker must reject a corrupted
output), parse the result lines the benchmark prints, and check that the
benchmark fails without printing a result when the program is absent.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class PerfbenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        cp = build.build(ROOT)
        res = subprocess.run([build.java(), "-XX:-UsePerfData", "-cp", cp, "perfbench.SelfTest"],
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        cls.selftest = res
        cls.lines = [l for l in res.stdout.splitlines() if l.strip()]

    def test_checkers_reject_corrupted_outputs(self):
        self.assertEqual(self.selftest.returncode, 0, self.selftest.stderr)
        self.assertIn(" 0 failed", self.selftest.stderr)

    def test_result_lines_parse(self):
        untraced, traced = self.lines[-2:]
        r = run.parse_result(untraced, False, self.bench)
        self.assertEqual(r["attempted"], 12)
        run.parse_result(traced, True, self.bench)
        # the untraced summary stays far below a 2000-character capture tail
        self.assertLess(len(untraced), 1000)

    def test_malformed_results_are_refused(self):
        good = json.loads(self.lines[-2])
        for bad in [dict(good, extra=1), dict(good, attempted=0), dict(good, failed=99),
                    dict(good, metrics={}), dict(good, attempted=1.5)]:
            with self.assertRaises(ValueError):
                run.parse_result(json.dumps(bad), False, self.bench)

    def test_benchmark_json_contract(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(b["paths"], ["perfbench"])
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertRegex(w["name"], NAME)
            self.assertIn(w["name"], run.WORKLOADS)
            self.assertLessEqual(len(w["why"]), 200)
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")

    def test_fails_without_the_program(self):
        bare = ROOT / ".bench_out" / "selftest-bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
        res = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                              self.bench["workloads"][0]["name"], "--seed", "1",
                              "--seconds", "1", "--trace", "0"],
                             cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                             text=True, timeout=180, env=env)
        shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(res.returncode, 0)
        self.assertEqual(res.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
