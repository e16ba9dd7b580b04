#!/usr/bin/env python3
"""Parse SQLQueryTestSuite golden .out files from the reference's
typeCoercion (and other) sql-tests directories into a statement list the
CoercionProbe Scala tool can execute.

Usage: coercion_extract.py <prefix>_<base>.sql.out ... -> writes
  /tmp/coerce/<prefix>_<base>.stmts  (records: id \x1f sql, sep \x1e)
  /tmp/coerce/<prefix>_<base>.golden.json (per-id expected schema/output
      from the reference golden, for the divergence report)
Name each copied .sql.out with its battery family's prefix (coerce, pg,
core, ansi, subq); the name carries through the probe to the resources.
"""
import json
import os
import re
import sys

OUT_DIR = "/tmp/coerce"


def strip_line_comments(sql):
    """remove -- comments outside single-quoted strings (pg DDL carries
    inline column comments that would poison single-line-ification)"""
    out = []
    for line in sql.split("\n"):
        res, inq, i = [], False, 0
        while i < len(line):
            ch = line[i]
            if ch == "'":
                inq = not inq
                res.append(ch)
            elif ch == "-" and not inq and line[i:i + 2] == "--":
                break
            else:
                res.append(ch)
            i += 1
        out.append("".join(res))
    return "\n".join(out)


def parse_out(path):
    text = open(path).read()
    # blocks: -- !query\n<sql>\n-- !query schema\n<schema>\n-- !query output\n<out>
    blocks = re.split(r"^-- !query\n", text, flags=re.M)[1:]
    stmts = []
    for i, b in enumerate(blocks):
        m = re.split(r"^-- !query schema\n", b, flags=re.M)
        sql = strip_line_comments(m[0]).strip()
        rest = m[1] if len(m) > 1 else ""
        m2 = re.split(r"^-- !query output\n", rest, flags=re.M)
        schema = m2[0].strip()
        # strip newlines only: a leading TAB on the first row is data
        # (empty first column), not whitespace to trim
        out = m2[1] if len(m2) > 1 else ""
        out = out.split("\n\n\n")[0].strip("\n")
        if out.strip() == "":
            out = ""
        stmts.append({"id": f"t{i:03d}", "sql": sql, "schema": schema,
                      "out": out})
    return stmts


def main():
    os.makedirs(OUT_DIR, exist_ok=True)
    for path in sys.argv[1:]:
        base = os.path.basename(path).replace(".sql.out", "")
        stmts = parse_out(path)
        with open(f"{OUT_DIR}/{base}.stmts", "w") as f:
            f.write("\x1e".join(
                s["id"] + "\x1f" + s["sql"] for s in stmts))
        with open(f"{OUT_DIR}/{base}.golden.json", "w") as f:
            json.dump(stmts, f, indent=1)
        print(f"{base}: {len(stmts)} statements")


if __name__ == "__main__":
    main()
