#!/usr/bin/env python3
"""Merge N full graft.Bench sweep outputs into the round's committed
record: per-query MIN across sweeps (each already min of 2-3 runs in its
own JVM), total = sum of mins, with the protocol documented in the JSON
itself. One sweep can drift ~10% hot-vs-cold, so "faster or slower than
last round?" must never depend on which single sweep you read.

The record keeps every sweep's raw per-query runs (`runs`), the union of
their `errors`, and each sweep's own total (`sweep_totals`).

Usage: tools/bench_record.py <out.json> <sweep1.json> [sweep2.json ...]
Each sweep file holds the single JSON line Bench prints (possibly with an
sbt "[info] " prefix).
"""
import json
import sys
from pathlib import Path


def load(path):
    line = Path(path).read_text().strip()
    return json.loads(line[line.find('{'):])


def main():
    out_path, sweeps = sys.argv[1], [load(p) for p in sys.argv[2:]]
    if not sweeps:
        sys.exit("need at least one sweep")
    names = set(sweeps[0]["queries"])
    for s in sweeps[1:]:
        if set(s["queries"]) != names:
            sys.exit(f"sweeps disagree on the query set: "
                     f"{sorted(names ^ set(s['queries']))}")
    mins = {q: min(s["queries"][q] for s in sweeps) for q in sorted(names)}
    runs = {q: sorted(r for s in sweeps for r in s.get("runs", {}).get(q, []))
            for q in sorted(names)}
    errors = {k: v for s in sweeps for k, v in s.get("errors", {}).items()}
    rec = {
        "metric": "total",
        "value": sum(mins.values()),
        "unit": "sec",
        "runs_protocol": (
            f"per-query MIN across {len(sweeps)} independent one-JVM full "
            "sweeps (each sweep itself min of 2-3 runs per query, "
            "inter-query System.gc); Xms-pinned heap per build.sbt"),
        "sweep_totals": [round(sum(s["queries"].values()), 3) for s in sweeps],
        "queries": mins,
        "runs": runs,
        "sf": sweeps[0]["sf"],
    }
    if errors:
        rec["errors"] = errors
    Path(out_path).write_text(json.dumps(rec) + "\n")
    print(f"total {rec['value']:.1f}s over {len(mins)} queries "
          f"(sweeps: {rec['sweep_totals']}) -> {out_path}")


if __name__ == "__main__":
    main()
