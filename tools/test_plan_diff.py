"""Tests for tools/plan_diff.py: the id masks, and the exit code over two
dump directories.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import io
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import plan_diff  # noqa: E402

PLAN_DIFF = Path(__file__).resolve().parent / "plan_diff.py"

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- * Project (4)
   +- * BroadcastHashJoin Inner BuildRight (3)

(3) BroadcastHashJoin [codegen id : 2]
Left keys [1]: [cell_id#41]
Right keys [1]: [cell_id#57]
Output [1]: [nearestcell(embedding#3, [Lscala.Tuple2;@5e1a7b2c).cell_id AS cell_id#41]

(4) Exchange
Arguments: hashpartitioning(query_id#60L, 4), ENSURE_REQUIREMENTS, [plan_id=118]
"""


def renumbered(text: str) -> str:
    return (text.replace("#41", "#7").replace("#57", "#9").replace("#60L", "#3L")
            .replace("plan_id=118", "plan_id=12").replace("codegen id : 2", "codegen id : 5")
            .replace("@5e1a7b2c", "@a0f3"))


class Masks(unittest.TestCase):

    def test_ids_are_masked(self):
        self.assertEqual(plan_diff.mask("a#12L, [plan_id=7], [codegen id : 3], *(3) Sort"),
                         "a#NL, [plan_id=N], [codegen id : N], *(N) Sort")
        self.assertEqual(plan_diff.mask("cellvector(c#1L, [[D@1b2c3d4), Model@73032867"),
                         "cellvector(c#NL, [[D@H), Model@H")

    def test_renumbered_plans_mask_alike(self):
        self.assertEqual(plan_diff.mask(PLAN), plan_diff.mask(renumbered(PLAN)))


class Compare(unittest.TestCase):

    def setUp(self):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        self.a, self.b = Path(tmp.name, "a"), Path(tmp.name, "b")
        self.a.mkdir()
        self.b.mkdir()

    def run_cli(self, *queries):
        return subprocess.run([sys.executable, str(PLAN_DIFF), str(self.a), str(self.b),
                               *queries], capture_output=True, text=True)

    def test_same_plans_exit_zero(self):
        (self.a / "q_ann_ivf.txt").write_text(PLAN)
        (self.b / "q_ann_ivf.txt").write_text(renumbered(PLAN))
        r = self.run_cli()
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("q_ann_ivf: same", r.stdout)

    def test_a_changed_operator_exits_one_with_a_diff(self):
        (self.a / "q_ann_ivf.txt").write_text(PLAN)
        (self.b / "q_ann_ivf.txt").write_text(PLAN.replace("BuildRight", "BuildLeft"))
        r = self.run_cli()
        self.assertEqual(r.returncode, 1)
        self.assertIn("q_ann_ivf: differs", r.stdout)
        self.assertIn("+   +- * BroadcastHashJoin Inner BuildLeft (3)", r.stdout)

    def test_a_missing_dump_exits_one(self):
        (self.a / "q_ann_pq.txt").write_text(PLAN)
        r = self.run_cli()
        self.assertEqual(r.returncode, 1)
        self.assertIn(f"q_ann_pq: missing in {self.b}", r.stdout)

    def test_named_queries_restrict_the_comparison(self):
        (self.a / "q_ann_pq.txt").write_text(PLAN)
        (self.b / "q_ann_pq.txt").write_text(PLAN)
        (self.a / "q_other.txt").write_text(PLAN)
        out = io.StringIO()
        self.assertEqual(plan_diff.compare(self.a, self.b, ["q_ann_pq"], out), 0)
        self.assertNotIn("q_other", out.getvalue())

    def test_nothing_to_compare_is_not_a_pass(self):
        self.assertEqual(self.run_cli().returncode, 1)

    def test_a_missing_directory_is_a_usage_error(self):
        r = subprocess.run([sys.executable, str(PLAN_DIFF), str(self.a), "/nonexistent"],
                           capture_output=True, text=True)
        self.assertEqual(r.returncode, 2)


if __name__ == "__main__":
    unittest.main()
