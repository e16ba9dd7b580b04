#!/usr/bin/env python3
"""Compare graft per-query bench times against DuckDB running the oracle SQL
on the same parquet at the same scale factor.

Usage: python3 tools/benchcmp.py <bench_json_file> <sf_dir> [oracle_sql.json]

DuckDB runs on the bench's cores: SPARK_GRAFT_CPUS when set, else nproc.
"""
import json, os, sys, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main(bench_file, sf_dir, oracle_file="/tmp/verify_out/oracle_sql.json"):
    bench = json.load(open(bench_file))
    queries = bench["queries"] if "queries" in bench else bench
    oracle = json.load(open(oracle_file))
    con = duckdb.connect()
    threads = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    rows = []
    for name, spark_t in sorted(queries.items()):
        if name not in oracle:
            continue
        t0 = time.time()
        try:
            con.execute(oracle[name]).fetchall()
            duck_t = time.time() - t0
        except Exception as e:
            duck_t = None
        rows.append((name, spark_t, duck_t))
    print(f"{'query':32s} {'graft':>8s} {'duckdb':>8s} {'ratio':>7s}")
    worst = []
    for name, s, d in rows:
        ratio = (s / d) if d else float("nan")
        if d and ratio > 3:
            worst.append((ratio, name))
        print(f"{name:32s} {s:8.3f} {d if d else -1:8.3f} {ratio:7.2f}")
    ts = sum(s for _, s, _ in rows)
    td = sum(d for _, _, d in rows if d)
    print(f"\ntotals: graft {ts:.1f}s vs duckdb {td:.1f}s "
          f"(ratio {ts/td:.2f}) over {len(rows)} shared queries")
    if worst:
        print("worst (>3x):", sorted(worst, reverse=True)[:10])

if __name__ == "__main__":
    main(*sys.argv[1:])
