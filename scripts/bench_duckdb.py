#!/usr/bin/env python3
"""Time the DuckDB oracle statements against a parquet table dir — the
baseline side of the Spark-vs-DuckDB bench at any scale factor.

Usage: python3 scripts/bench_duckdb.py <sfDir> <oracle_sql.json> [out.json]

oracle_sql.json is the dump graft.Verify writes to <outDir>/oracle_sql.json
(statement text is data-dir independent). One warmup pass, two timed
passes, min per query; prints one JSON line compatible with the Spark
bench's shape. DuckDB runs on this process's CPU count, so a pairing with a
Spark run at SPARK_GRAFT_CPUS=<same count> is at matched threads.
"""
import json
import os
import sys
import time

import duckdb


def main(sf_dir, sql_path, out_path=None):
    sql = json.load(open(sql_path))
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={len(os.sched_getaffinity(0))}")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    names = sorted(sql)
    for n in names:  # warmup (buffer cache + plan cache)
        con.execute(sql[n]).fetchall()
    results = {}
    for _ in range(2):
        for n in names:
            t0 = time.time()
            con.execute(sql[n]).fetchall()
            dt = time.time() - t0
            results[n] = min(results.get(n, 1e9), dt)
    total = sum(results.values())
    line = json.dumps({
        "metric": "duckdb_total", "value": round(total, 3), "unit": "sec",
        "queries": {n: round(v, 4) for n, v in results.items()},
        "sf": sf_dir,
    })
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main(*sys.argv[1:])
