"""Tests for tools/ab_pairs.py, with a stub in place of perfbench/run.py.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import textwrap
import unittest
from pathlib import Path

AB_PAIRS = Path(__file__).resolve().parent / "ab_pairs.py"

BENCH = {
    "end_to_end": [
        {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "rows_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    ],
    "per_layer": [],
}

# Reports wall_s = base + seed/100 and rows_per_s = 1000 / wall_s; appends
# "<side> <seed>" to $AB_ORDER_LOG; gives no result for the seed in $AB_FAIL_SEED
# on the change side.
STUB = textwrap.dedent("""\
    import argparse, json, os, sys
    from pathlib import Path
    p = argparse.ArgumentParser()
    for f in ("--workload", "--seed", "--seconds", "--trace"):
        p.add_argument(f)
    a = p.parse_args()
    side = Path("side.txt").read_text().strip()
    with open(os.environ["AB_ORDER_LOG"], "a") as log:
        log.write(f"{side} {a.seed} {a.workload}\\n")
    if side == "change" and a.seed == os.environ.get("AB_FAIL_SEED"):
        sys.exit(4)
    wall = (1.0 if side == "parent" else 0.9) + int(a.seed) / 100
    print("noise line")
    print(json.dumps({"correct": True, "attempted": 10, "failed": 1 if side == "parent" else 0,
                      "metrics": {"wall_s": {"unit": "s", "value": wall},
                                  "rows_per_s": {"unit": "1/s", "value": 1000 / wall}}}))
""")


class AbPairsTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = Path(self.tmp.name)
        self.dirs = {}
        for side in ("parent", "change"):
            d = root / side
            (d / "perfbench").mkdir(parents=True)
            (d / "perfbench" / "run.py").write_text(STUB)
            (d / "side.txt").write_text(side)
            (d / "BENCHMARK.json").write_text(json.dumps(BENCH))
            self.dirs[side] = d
        self.log = root / "order.log"

    def tearDown(self):
        self.tmp.cleanup()

    def run_pairs(self, pairs, fail_seed=None):
        env = dict(os.environ, AB_ORDER_LOG=str(self.log))
        if fail_seed is not None:
            env["AB_FAIL_SEED"] = str(fail_seed)
        proc = subprocess.run(
            [sys.executable, str(AB_PAIRS), str(self.dirs["parent"]), str(self.dirs["change"]),
             "--workload", "fuse_replay", "--pairs", str(pairs), "--seed0", "10"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=env, check=True)
        return json.loads(proc.stdout.strip().splitlines()[-1])

    def test_interleaved_order_medians_and_wins(self):
        out = self.run_pairs(4)
        order = [l.split() for l in self.log.read_text().splitlines()]
        self.assertEqual([(s, int(seed)) for s, seed, _ in order], [
            ("parent", 10), ("change", 10), ("change", 11), ("parent", 11),
            ("parent", 12), ("change", 12), ("change", 13), ("parent", 13)])
        self.assertTrue(all(w == "fuse_replay" for _, _, w in order))
        self.assertEqual(out["seeds"], [10, 11, 12, 13])
        self.assertEqual(out["pairs_scored"], 4)
        self.assertEqual(out["parent"]["raw"]["wall_s"], [1.1, 1.11, 1.12, 1.13])
        self.assertAlmostEqual(out["parent"]["median"]["wall_s"], 1.115)
        self.assertAlmostEqual(out["change"]["median"]["wall_s"], 1.015)
        self.assertEqual(out["change_wins"], {"wall_s": 4, "rows_per_s": 4})
        self.assertAlmostEqual(out["change_median_rel"]["wall_s"], (1.015 - 1.115) / 1.115)
        self.assertEqual((out["parent"]["failed"], out["parent"]["attempted"]), (4, 40))
        self.assertEqual((out["change"]["failed"], out["change"]["attempted"]), (0, 40))

    def test_a_run_without_result_drops_its_pair(self):
        out = self.run_pairs(3, fail_seed=11)
        self.assertEqual(out["pairs_scored"], 2)
        self.assertEqual(out["change"]["runs_without_result"], 1)
        self.assertEqual(out["parent"]["runs_without_result"], 0)
        self.assertEqual(out["parent"]["raw"]["wall_s"], [1.1, 1.12])
        self.assertEqual(out["change_wins"]["wall_s"], 2)
        self.assertEqual(out["change"]["attempted"], 20)


if __name__ == "__main__":
    unittest.main()
