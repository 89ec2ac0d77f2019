#!/usr/bin/env python3
"""Non-blank, non-comment Scala lines per file at two revisions.

Usage (from anywhere inside the repository):
  python3 tools/code_lines.py BASE [HEAD] -- PATHS...

BASE and HEAD are git revisions; without HEAD the working tree is counted
(tracked and untracked, not ignored, files). PATHS are git pathspecs; only
`.scala` files under them are counted. A line counts when something other
than whitespace is left after `//` and (nested) `/* */` comments are
removed, so a change that only deletes comments or blank lines shows no
reduction. String literals, triple-quoted ones included, are code: a `//`
inside one is not a comment.

Prints one row per file that exists at either revision (base, head, delta,
path; a missing side counts 0) and a total row.
"""
import os
import subprocess
import sys
from pathlib import Path


def code_lines(text: str) -> int:
    """Lines of Scala `text` holding code once comments are removed."""
    counted = 0
    depth = 0          # nesting depth of /* */ comments
    in_triple = False  # inside a """ string, which may span lines
    for line in text.splitlines():
        code = False
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                elif line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                else:
                    i += 1
                continue
            if in_triple:
                code = code or not line[i].isspace()
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                    while i < n and line[i] == '"':  # closing quotes may run longer
                        i += 1
                else:
                    i += 1
                continue
            c = line[i]
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth, i = 1, i + 2
                continue
            if c.isspace():
                i += 1
                continue
            code = True
            if line.startswith('"""', i):
                in_triple, i = True, i + 3
            elif c == '"':
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < n and line[i + 1] == "\\":
                end = line.find("'", i + 2)
                i = end + 1 if end > 0 else i + 1
            elif c == "'" and i + 2 < n and line[i + 2] == "'":
                i += 3
            else:
                i += 1
        counted += code
    return counted


def git(*args: str) -> str:
    return subprocess.run(["git", *args], check=True, stdout=subprocess.PIPE,
                          text=True).stdout


def scala_files(rev, paths):
    """The `.scala` files under `paths` at `rev` (None: the working tree)."""
    if rev is None:
        out = git("ls-files", "--cached", "--others", "--exclude-standard", "--", *paths)
        names = [f for f in out.splitlines() if Path(f).is_file()]
    else:
        names = git("ls-tree", "-r", "--name-only", rev, "--", *paths).splitlines()
    return {f for f in names if f.endswith(".scala")}


def read(rev, name: str) -> str:
    if rev is None:
        return Path(name).read_text(encoding="utf-8")
    return git("show", f"{rev}:{name}")


def counts(rev, paths):
    return {f: code_lines(read(rev, f)) for f in scala_files(rev, paths)}


def main(argv) -> int:
    if "--" not in argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    cut = argv.index("--")
    revs, paths = argv[:cut], argv[cut + 1:]
    if len(revs) not in (1, 2) or not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    # pathspecs are relative to the working directory; `git show` wants
    # paths from the top, so both are resolved from there
    prefix = git("rev-parse", "--show-prefix").strip()
    paths = [prefix + p for p in paths]
    os.chdir(git("rev-parse", "--show-toplevel").strip())
    base = counts(revs[0], paths)
    head = counts(revs[1] if len(revs) == 2 else None, paths)
    print(f"{'base':>7} {'head':>7} {'delta':>7}  file")
    for f in sorted(base.keys() | head.keys()):
        b, h = base.get(f, 0), head.get(f, 0)
        print(f"{b:7d} {h:7d} {h - b:+7d}  {f}")
    b, h = sum(base.values()), sum(head.values())
    print(f"{b:7d} {h:7d} {h - b:+7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
