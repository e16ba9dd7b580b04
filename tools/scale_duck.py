#!/usr/bin/env python3
"""DuckDB twin of graft.tools.ScaleBench: times each corpus's verbatim
queries over the SAME materialized fixture parquet the Spark run scanned
(byte-identical tables, both engines at full thread count), min-of-3 warm
with every row fetched, checks each query's row count against the Spark
run's, and prints a graft/duck/ratio table per corpus across factors.

Usage: python3 tools/scale_duck.py <scalebench.json>...
  each file holds the JSON line ScaleBench prints last, e.g.
  sbt "runMain graft.tools.ScaleBench tpch 2" | grep '^{"metric"' > tpch_x2.json

Prints one `<corpus>_duckdb_x<factor>` JSON line per input file; exits 1 if
any query's DuckDB row count differs from ScaleBench's, if a line is a
`heavy` run (its rows have no DuckDB statement), or if a line lists rows
under `failed`.
"""
import json
import os
import sys
import time

import duckdb

# the null ordering every verbatim oracle runs under (Spark's rule:
# NULLS FIRST on ASC, LAST on DESC) — graft.Sessions.duckNullOrder
NULL_ORDER = "SET default_null_order='nulls_first_on_asc_last_on_desc'"


def statement(path):
    """The one statement a _duck_sql file holds."""
    if not os.path.isfile(path):
        sys.exit(f"missing DuckDB statement file {path}")
    sql = open(path).read()
    n = len(duckdb.extract_statements(sql)) if sql.strip() else 0
    if n != 1:
        sys.exit(f"{path} holds {n} statements, expected exactly 1")
    return sql


def run(bench):
    """Times the queries of one ScaleBench run; returns (times, rows)."""
    root = bench["fixtureRoot"]
    con = duckdb.connect()  # threads = all cores, same as local[cores]
    con.execute(NULL_ORDER)
    tables = sorted(d for d in os.listdir(root)
                    if not d.startswith("_")
                    and os.path.isdir(os.path.join(root, d)))
    if not tables:
        sys.exit(f"no fixture tables under {root}")
    for t in tables:
        con.execute(f'CREATE VIEW "{t}" AS SELECT * FROM '
                    f"read_parquet('{root}/{t}/*.parquet')")
    times, rows = {}, {}
    for q in bench["queries"]:
        sql = statement(os.path.join(root, "_duck_sql", f"{q}.sql"))
        best = None
        for _ in range(3):
            t0 = time.time()
            res = con.execute(sql).fetchall()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        times[q], rows[q] = best, len(res)
    return times, rows


def table(corpus, runs):
    """graft/duck/ratio per query, one column group per factor."""
    runs = sorted(runs, key=lambda r: r[0])
    qs = list(runs[0][1])
    w = max(6, max(len(q) for q in qs) + 1)
    hdr = f"{corpus:<{w}}" + "".join(
        f"{'x' + str(f) + ' graft':>12}{'x' + str(f) + ' duck':>12}"
        f"{'ratio':>7}" for f, _, _ in runs)
    lines = [hdr]
    for q in qs:
        row = f"{q:<{w}}"
        for _, sq, dq in runs:
            r = sq[q] / dq[q] if dq.get(q) else float("inf")
            row += f"{sq[q]:>11.3f}s{dq[q]:>11.3f}s{r:>6.2f}x"
        lines.append(row)
    lines.append("-" * len(hdr))
    row = f"{'TOTAL':<{w}}"
    for _, sq, dq in runs:
        ts, td = sum(sq.values()), sum(dq.values())
        row += f"{ts:>11.2f}s{td:>11.2f}s{ts / td:>6.2f}x"
    lines.append(row)
    f_last, sq, dq = runs[-1]
    over = sorted(((q, sq[q] / dq[q]) for q in qs if sq[q] > 2.0 * dq[q]),
                  key=lambda t: -t[1])
    lines.append(f"rows >2.0x at x{f_last}: " + (", ".join(
        f"{q} ({r:.2f}x)" for q, r in over) or "none"))
    return "\n".join(lines)


def main(paths):
    if not paths:
        sys.exit(__doc__)
    by_corpus, lines, mismatched = {}, [], []
    for path in paths:
        bench = json.load(open(path))
        if bench["metric"].startswith("heavy_"):
            sys.exit(f"{path}: {bench['metric']} is a heavy run; only "
                     f"tpch/tpcds/ssb runs have DuckDB twins")
        corpus = bench["metric"].split("_verbatim_")[0]
        factor = bench["factor"]
        if bench.get("failed"):
            sys.exit(f"{path}: {corpus} x{factor} rows failed in ScaleBench: "
                     f"{', '.join(bench['failed'])}")
        times, rows = run(bench)
        mismatched += [f"{corpus} x{factor} {q}: graft {bench['rows'][q]} "
                       f"duck {n}" for q, n in rows.items()
                       if bench["rows"][q] != n]
        by_corpus.setdefault(corpus, []).append(
            (factor, bench["queries"], times))
        lines.append(json.dumps({
            "metric": f"{corpus}_duckdb_x{factor}",
            "value": round(sum(times.values()), 3), "unit": "sec",
            "factor": factor,
            "queries": {q: round(t, 3) for q, t in times.items()},
            "rows": rows}))
    for corpus, runs in by_corpus.items():
        print(table(corpus, runs) + "\n")
    if mismatched:
        print("row-count mismatches:\n  " + "\n  ".join(mismatched))
    else:
        print(f"row counts agree on all "
              f"{sum(len(r[1]) for rs in by_corpus.values() for r in rs)} "
              f"queries")
    print("\n".join(lines))
    sys.exit(1 if mismatched else 0)


if __name__ == "__main__":
    main(sys.argv[1:])
