#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/scala) with the Scala compiler that ships in Spark's jar
directory, into a cache directory keyed by the hash of every source.

Usage (from the repository root): python3 perfbench/build.py
Prints the runtime classpath. The cache lives in $CARGO_TARGET_DIR when set,
else .bench_build; a build whose sources are unchanged is reused.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    homes = []
    if os.environ.get("SPARK_HOME"):
        homes.append(Path(os.environ["SPARK_HOME"]))
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(Path(submit).resolve().parent.parent)
    for home in homes:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home / "jars"
    raise BuildError("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")


def java() -> str:
    if os.environ.get("JAVA_HOME"):
        return str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("java not found")
    return found


def build_dir(root: Path) -> Path:
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources(root: Path):
    main = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "scala").rglob("*.scala"))
    if not main:
        raise BuildError(f"no program sources under {root / 'src' / 'main' / 'scala'}")
    if not bench:
        raise BuildError(f"no benchmark sources under {root / 'perfbench' / 'scala'}")
    return main, bench


def scalac(jars: Path, out: Path, files, extra_cp=()):
    out.mkdir(parents=True, exist_ok=True)
    args = out.parent / f"{out.name}.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    # scalac's own classpath defaults to ".", which would let the working
    # directory shadow packages; name it explicitly
    cp = os.pathsep.join(map(str, [*extra_cp, out]))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", cp, "-nowarn",
           "-d", str(out), f"@{args}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError(f"scalac failed for {out.name}:\n{res.stdout[-4000:]}")


def build(root: Path) -> str:
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    main, bench = sources(root)
    h = hashlib.sha256()
    for f in main + bench:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    h.update(",".join(sorted(p.name for p in jars.glob("scala-*.jar"))).encode())
    out = build_dir(root) / h.hexdigest()[:16]
    if not (out / "OK").exists():
        tmp = out.with_name(out.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        scalac(jars, tmp / "main", main)
        scalac(jars, tmp / "bench", bench, extra_cp=[tmp / "main"])
        (tmp / "OK").write_text("")
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    return os.pathsep.join([str(out / "bench"), str(out / "main"), str(jars / "*")])


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
