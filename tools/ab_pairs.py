#!/usr/bin/env python3
"""Interleaved A/B pairs of one benchmark workload on two checkouts.

Usage (from anywhere):
  python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N --seed0 S
      [--seconds 10] [--trace 0|1]

Pair i runs `python3 perfbench/run.py --workload W --seed S+i --seconds ...
--trace ...` in each checkout, one after the other; the parent runs first in
even pairs and the change first in odd ones, so a drift of the machine
between the two runs of a pair falls on both sides equally. Each run's last
stdout line is its result (see perfbench/run.py).

Prints one JSON object: per side the per-metric medians and quartiles, the
raw values in pair order, and the operations failed/attempted (plus the runs
that gave no result); the change's wins per metric over the pairs where both
sides gave a result, with "better" taken from the change's BENCHMARK.json
(metrics it does not list are not scored); and the change's median relative
to the parent's.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_one(checkout: Path, workload: str, seed: int, seconds: float, trace: int):
    """One perfbench run in `checkout`; its result dict, or None if it gave none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def quartiles(xs):
    if len(xs) < 2:
        return [xs[0], xs[0]] if xs else [None, None]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return [q[0], q[2]]


def summarize(results, pairs_ok):
    """Medians, quartiles and raw values over the pairs in `pairs_ok`."""
    raw = {}
    for i in pairs_ok:
        for name, m in results[i]["metrics"].items():
            raw.setdefault(name, []).append(m["value"])
    done = [r for r in results if r is not None]
    return {
        "median": {k: statistics.median(v) for k, v in raw.items()},
        "quartiles": {k: quartiles(v) for k, v in raw.items()},
        "raw": raw,
        "failed": sum(r["failed"] for r in done),
        "attempted": sum(r["attempted"] for r in done),
        "runs_without_result": len(results) - len(done),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("parent_dir", type=Path)
    p.add_argument("change_dir", type=Path)
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", required=True, type=int)
    p.add_argument("--seed0", required=True, type=int)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = p.parse_args(argv)

    sides = {"parent": a.parent_dir.resolve(), "change": a.change_dir.resolve()}
    results = {"parent": [], "change": []}
    seeds = [a.seed0 + i for i in range(a.pairs)]
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_one(sides[side], a.workload, seed, a.seconds, a.trace)
            results[side].append(r)
            got = "no result" if r is None else f"failed {r['failed']}/{r['attempted']}"
            print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: {got}", file=sys.stderr)

    pairs_ok = [i for i in range(a.pairs)
                if results["parent"][i] is not None and results["change"][i] is not None
                and results["parent"][i]["correct"] and results["change"][i]["correct"]]
    out = {"workload": a.workload, "seeds": seeds, "pairs_scored": len(pairs_ok)}
    for side in sides:
        out[side] = summarize(results[side], pairs_ok)

    bench = json.loads((sides["change"] / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}
    wins, rel = {}, {}
    for name, base in out["parent"]["raw"].items():
        new = out["change"]["raw"].get(name)
        if new is None or name not in better:
            continue
        lower = better[name] == "lower"
        wins[name] = sum(1 for b, c in zip(base, new) if (c < b if lower else c > b))
        pm, cm = out["parent"]["median"][name], out["change"]["median"][name]
        rel[name] = (cm - pm) / pm if pm else None
    out["change_wins"] = wins
    out["change_median_rel"] = rel
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
