"""Tests for tools/code_lines.py: the line rule, and both revisions of a
scratch git repository.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import subprocess
import sys
import tempfile
import textwrap
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import code_lines  # noqa: E402

CODE_LINES = Path(__file__).resolve().parent / "code_lines.py"


class CodeLinesRule(unittest.TestCase):

    def test_comments_and_blank_lines_do_not_count(self):
        src = textwrap.dedent("""\
            package a

            /** Scaladoc
              * over lines. */
            object A { // trailing comment
              // a line comment
              /* a block */ val x = 1
              /* nested /* inner */ still comment */
              val y = 2 /* open
                 still open
              */
            }
            """)
        # package, object, val x, val y, closing brace
        self.assertEqual(code_lines.code_lines(src), 5)

    def test_comment_markers_inside_strings_are_code(self):
        src = textwrap.dedent('''\
            val url = "http://host/*not a comment*/"
            val q = """SELECT 1
              -- // still the string

              FROM t"""
            val c = '"'
            val d = '\\''
            val e = 1 // after ' and " chars
            ''')
        # url, q, its two non-blank continuation lines, c, d, e
        self.assertEqual(code_lines.code_lines(src), 7)


class CodeLinesRevisions(unittest.TestCase):

    def git(self, *args):
        subprocess.run(["git", *args], cwd=self.repo, check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.repo = Path(self.tmp.name)
        self.git("init", "-q")
        self.git("config", "user.email", "t@example.com")
        self.git("config", "user.name", "t")
        src = self.repo / "src"
        src.mkdir()
        (src / "A.scala").write_text("object A {\n  // note\n  val x = 1\n}\n")
        (src / "B.scala").write_text("object B\n")
        (src / "notes.txt").write_text("not scala\n")
        self.git("add", "-A")
        self.git("commit", "-q", "-m", "base")
        # head: A loses a comment and a line, B goes, C arrives
        (src / "A.scala").write_text("object A {\n}\n")
        (src / "B.scala").unlink()
        (src / "C.scala").write_text("object C {\n  val y = 2\n}\n")

    def tearDown(self):
        self.tmp.cleanup()

    def run_tool(self, *args, cwd=None):
        proc = subprocess.run([sys.executable, str(CODE_LINES), *args],
                              cwd=cwd or self.repo, stdout=subprocess.PIPE,
                              text=True, check=True)
        rows = [l.split() for l in proc.stdout.splitlines()[1:]]
        return {r[3]: (int(r[0]), int(r[1]), int(r[2])) for r in rows}

    def test_working_tree_against_base(self):
        got = self.run_tool("HEAD", "--", "src")
        self.assertEqual(got, {
            "src/A.scala": (3, 2, -1),
            "src/B.scala": (1, 0, -1),
            "src/C.scala": (0, 3, 3),
            "total": (4, 5, 1),
        })

    def test_two_revisions_from_a_subdirectory(self):
        self.git("add", "-A")
        self.git("commit", "-q", "-m", "head")
        got = self.run_tool("HEAD~1", "HEAD", "--", ".", cwd=self.repo / "src")
        self.assertEqual(got["total"], (4, 5, 1))
        self.assertEqual(got["src/A.scala"], (3, 2, -1))

    def test_usage_without_separator(self):
        proc = subprocess.run([sys.executable, str(CODE_LINES), "HEAD"], cwd=self.repo,
                              stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        self.assertEqual(proc.returncode, 2)
        self.assertIn("Usage", proc.stderr)


if __name__ == "__main__":
    unittest.main()
