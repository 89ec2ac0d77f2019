#!/usr/bin/env python3
"""Regenerate perfbench/data/oracle_counts_sf0.01.json: the DuckDB-oracle row
count of every SparkEntry.queries entry on the committed sf0.01 tables.

Usage (from the repository root, needs the `duckdb` Python package):
  python3 perfbench/tools/oracle_counts.py

Runs the program's own `graft.Verify` main once into .bench_out/oracle-verify,
because a few oracles re-derive a query from another query's exported result
(the `__VERIFY_OUT__` placeholder that Verify resolves). Each count is
`SELECT count(*) FROM (<oracle SQL>)`.
"""
import json
import os
import subprocess
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> int:
    root = Path.cwd()
    cp = build.build(root)
    data = HERE / "data" / "sf0.01"
    out = root / ".bench_out" / "oracle-verify"
    out.mkdir(parents=True, exist_ok=True)
    cmd = [build.java(), *[f"--add-opens={m}=ALL-UNNAMED" for m in run.ADD_OPENS],
           f"-Xms{run.HEAP}", f"-Xmx{run.HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", cp, "graft.Verify", str(data), str(out)]
    cmd.insert(1, f"-Djava.io.tmpdir={root / '.bench_out' / 'tmp'}")
    (root / ".bench_out" / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    subprocess.run(cmd, check=True, env=env)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{data / (t + '.parquet')}'")
    oracle = json.loads((out / "oracle_sql.json").read_text())
    counts = {}
    for name in sorted(oracle):
        counts[name] = con.sql(f"SELECT count(*) FROM ({oracle[name]})").fetchone()[0]
    dest = HERE / "data" / "oracle_counts_sf0.01.json"
    body = ",\n".join(f'  "{k}": {v}' for k, v in counts.items())
    dest.write_text("{\n" + body + "\n}\n")
    print(f"{len(counts)} counts -> {dest}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
