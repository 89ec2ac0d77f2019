#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: fuse_resample, fuse_replay, query_sweep, dedup_scale (see
perfbench/README.md). Builds the program from source on first use, generates
the seeded inputs (cached under .bench_data), then runs one JVM that sets up,
measures for S seconds with a single closed-loop client, and checks every
output. The last stdout line is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
Raw per-run values go to .bench_out/<workload>-seed<N>-trace<T>.json.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("fuse_resample", "fuse_replay", "query_sweep", "dedup_scale")
# Pinned and pre-touched: a heap that grows during the run pays first-touch
# page faults inside the timed window (see the note in build.sbt).
HEAP = "1536m"
JVM_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_result(line: str, trace: bool, bench: dict) -> dict:
    """Validate one result line against BENCHMARK.json; raise ValueError if bad."""
    r = json.loads(line)
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(r)}")
    if not isinstance(r["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(r[k], int) or r[k] < 0:
            raise ValueError(f"{k} is not a whole number")
    if r["attempted"] < 1 or r["failed"] > r["attempted"]:
        raise ValueError("attempted < 1 or failed > attempted")
    want = bench["per_layer" if trace else "end_to_end"]
    if r["correct"]:
        names = {m["name"]: m["unit"] for m in want}
        if set(r["metrics"]) != set(names):
            raise ValueError(f"metric names differ: {sorted(set(r['metrics']) ^ set(names))}")
        for n, m in r["metrics"].items():
            if m.get("unit") != names[n] or not isinstance(m.get("value"), (int, float)):
                raise ValueError(f"metric {n}: {m}")
    return r


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args(argv)

    root = Path.cwd()
    bench_json = root / "BENCHMARK.json"
    if not bench_json.is_file():
        print(f"no BENCHMARK.json in {root}", file=sys.stderr)
        return 2
    bench = json.loads(bench_json.read_text())
    try:
        cp = build.build(root)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    out = root / ".bench_out"
    (out / "tmp").mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    here = Path(__file__).resolve().parent
    cmd = [build.java(), *[f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS],
           f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           # C1 only: a run cannot reach C2's steady state, and C1 gives a flat
           # operation curve after one warm-up operation
           "-XX:TieredStopAtLevel=1", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={out / 'tmp'}",
           f"-Dlog4j2.configurationFile={here / 'log4j2.properties'}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(cores),
           "--data", str(root / ".bench_data"), "--out", str(out),
           "--sweep-data", str(here / "data" / "sf0.01"),
           "--oracle-counts", str(here / "data" / "oracle_counts_sf0.01.json")]
    t0 = time.time()
    # the program's defaults, and Spark's scratch space inside the checkout
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_ADAPTIVE_GATE")}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True,
                            env=env)
    try:
        stdout, _ = proc.communicate(timeout=JVM_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"{a.workload}: no result within {JVM_LIMIT_S}s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        print(f"{a.workload}: JVM exited {proc.returncode} without a result", file=sys.stderr)
        return 4
    try:
        parse_result(lines[-1], bool(a.trace), bench)
    except ValueError as e:
        print(f"{a.workload}: malformed result ({e}): {lines[-1][:300]}", file=sys.stderr)
        return 4
    print(f"{a.workload}: {time.time() - t0:.1f}s in the JVM", file=sys.stderr)
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
