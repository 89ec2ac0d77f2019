#!/usr/bin/env python3
"""Compare two directories of `graft.Dev plan` dumps.

Usage:
  python3 tools/plan_diff.py A_DIR B_DIR [QUERY ...]

Each directory holds one `<query>.txt` per query, the formatted physical
plan `graft.Dev plan OUT_DIR [query ...]` writes. Without QUERY arguments
every query found in either directory is compared.

Ids that differ between two runs of the same plan are masked first:
expression ids (`doc_id#12L` -> `doc_id#NL`), `plan_id=` numbers, codegen
stage ids (`[codegen id : 3]`, `*(3)`), and the identity hash codes in the
default `toString` of the objects an expression holds (`[[D@1b2c3d4`,
`QueryModel@73032867`), which change with every JVM. Everything else must
match line for line.

Prints one line per query (`same`, `differs` or `missing in A_DIR|B_DIR`),
a unified diff of the masked text for each query that differs, and a
summary line. Exits 0 when every compared plan is the same, 1 when any
differs or is missing, 2 on a usage error.
"""
import difflib
import re
import sys
from pathlib import Path

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"(?<=[\w$;\[])@[0-9a-f]{1,8}\b"), "@H"),
]


def mask(text: str) -> str:
    """`text` with the run-dependent ids replaced by placeholders."""
    for pattern, placeholder in MASKS:
        text = pattern.sub(placeholder, text)
    return text


def compare(a_dir: Path, b_dir: Path, queries, out=sys.stdout) -> int:
    """Print the comparison of `queries` (all when empty); the exit code."""
    if not queries:
        queries = sorted({p.stem for d in (a_dir, b_dir) for p in d.glob("*.txt")})
    bad = 0
    for q in queries:
        a, b = a_dir / f"{q}.txt", b_dir / f"{q}.txt"
        missing = [str(d) for d, f in ((a_dir, a), (b_dir, b)) if not f.is_file()]
        if missing:
            print(f"{q}: missing in {' and '.join(missing)}", file=out)
            bad += 1
            continue
        a_lines = mask(a.read_text()).splitlines(keepends=True)
        b_lines = mask(b.read_text()).splitlines(keepends=True)
        if a_lines == b_lines:
            print(f"{q}: same", file=out)
            continue
        print(f"{q}: differs", file=out)
        out.writelines(difflib.unified_diff(a_lines, b_lines, str(a), str(b)))
        bad += 1
    print(f"{len(queries) - bad} same, {bad} differ or missing, of {len(queries)}", file=out)
    return 1 if bad or not queries else 0


def main(argv) -> int:
    if len(argv) < 2 or not all(Path(d).is_dir() for d in argv[:2]):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    return compare(Path(argv[0]), Path(argv[1]), argv[2:])


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
