#!/usr/bin/env python3
"""Generate golden-coercion resources from CoercionProbe dumps.

For each <prefix>_<base> under /tmp/coerce with .stmts/.probe/.golden.json
(prefix: the graft.operators.Battery family, coerce/pg/core/ansi/subq):
  src/main/resources/golden-coercion/<prefix>_<base>.tsv        every
      statement in file order: setups, value TCs, skip: and err: TCs
  src/main/resources/golden-coercion/<prefix>_<base>.oracle.sql DuckDB
      literal oracle
and appends a per-file section to docs/COERCION_DIVERGENCES.md comparing
Spark 4.1 (probe) against the reference's recorded Spark 3.0 golden.
"""
import glob
import json
import os
import re
import sys

FS, RS, CS = "\x1f", "\x1e", "\x1d"
RES = "src/main/resources/golden-coercion"


def split_top(s, sep=","):
    """split on sep at paren/angle depth 0; '<'/'>' count as brackets only
    outside parens (a parenthesized field name may contain comparison ops)"""
    out, pd, ad, cur = [], 0, 0, []
    for ch in s:
        if ch == "(":
            pd += 1
        elif ch == ")":
            pd -= 1
        elif ch == "<" and pd == 0:
            ad += 1
        elif ch == ">" and pd == 0:
            ad -= 1
        if ch == sep and pd == 0 and ad == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out


def golden_types(schema):
    """struct<name:type,...> -> [type,...] lowercased"""
    m = re.match(r"^struct<(.*)>$", schema, re.S)
    if not m or not m.group(1):
        return []
    fields = split_top(m.group(1))
    tys = []
    for f in fields:
        # the NAME can contain colons only inside parens; the type is after
        # the last depth-0 colon
        parts = split_top(f, ":")
        tys.append(parts[-1].strip().lower())
    return tys


def norm_ty(t):
    # Spark 4 dataType.sql renders struct-field nullability; 3.0 goldens
    # don't — cosmetic, strip for the divergence compare
    return (t.strip().lower().replace(" ", "").replace("notnull", ""))


def cell_norm(v):
    if v is None:
        return None
    return v


def q(s):
    return "'" + s.replace("'", "''") + "'"


def gen(base):
    stmts = {}
    order = []
    for rec in open(f"/tmp/coerce/{base}.stmts", encoding="utf-8", newline="").read().split(RS):
        if not rec:
            continue
        i, sql = rec.split(FS, 1)
        stmts[i] = sql
        order.append(i)
    probe = {}
    for rec in open(f"/tmp/coerce/{base}.probe", encoding="utf-8", newline="").read().split(RS):
        if not rec:
            continue
        f = rec.split(FS)
        probe[f[0]] = f
    golden = {g["id"]: g for g in
              json.load(open(f"/tmp/coerce/{base}.golden.json"))}

    def cells_of(f):
        blob = FS.join(f[4:]) if len(f) > 4 else ""
        return [c for row in (blob.split(CS) if blob else [])
                for c in row.split(FS)]

    def portable(f):
        # a cell with control chars (chr(0) etc.) can't be spelled as a
        # DuckDB string literal, and a raw \r would be newline-translated
        # by universal-newline readers downstream — skip the TC, documented
        return all(all(ord(ch) >= 32 or ch in "\n\t" for ch in c)
                   for c in cells_of(f))

    NONDET = re.compile(
        r"(?i)\b(current_date|current_timestamp|now\s*\(|localtimestamp"
        r"|random\s*\(|rand\s*\(|randn\s*\(|uuid\s*\("
        r"|monotonically_increasing_id|current_user|current_catalog"
        r"|current_database|version\s*\(|input_file_name"
        r"|spark_partition_id)")

    oks, errs, setups, skips = [], [], [], {}
    for i in order:
        st = probe[i][1]
        if st == "SETUP":
            setups.append(i)
        elif st == "OK" and NONDET.search(stmts[i]):
            # value depends on wall clock / session identity / randomness:
            # a literal oracle would pin the probe run, not the semantics
            skips[i] = "nondeterministic"
        elif st == "OK" and not portable(probe[i]):
            skips[i] = "nonportable-value"
        elif st == "OK":
            oks.append(i)
        else:
            errs.append(i)

    # ---- value rows + width
    width = 0
    rows = []  # (tc, ty, [cells...])
    for i in oks:
        f = probe[i]
        ty, ncols = f[2], int(f[3])
        width = max(width, ncols)
        cells_blob = FS.join(f[4:]) if len(f) > 4 else ""
        if cells_blob == "":
            row_strs = []
        else:
            row_strs = cells_blob.split(CS)
        for r in row_strs:
            cs = r.split(FS)
            vals = [None if c == "N" else c[1:] for c in cs]
            rows.append((i, ty, vals))

    os.makedirs(RES, exist_ok=True)

    def one(s):
        """Single-line-ify for the tsv: collapse whitespace runs to one
        space OUTSIDE quoted literals only (collapsing inside a string
        literal would replay a semantics-changed statement). Tabs and
        newlines INSIDE literals are encoded reversibly (\\x1f / \\x1e —
        never present in SQL text) and decoded by the runtime's
        Battery.load after the tab-split."""
        out, i, quote = [], 0, None
        while i < len(s):
            ch = s[i]
            if quote:
                if ch == "\t":
                    out.append("\x1f")
                elif ch == "\n":
                    out.append("\x1e")
                else:
                    out.append(ch)
                if ch == quote:
                    quote = None
                i += 1
            elif ch in "'\"`":
                quote = ch
                out.append(ch)
                i += 1
            elif ch.isspace():
                while i < len(s) and s[i].isspace():
                    i += 1
                out.append(" ")
            else:
                out.append(ch)
                i += 1
        return "".join(out).strip()

    with open(f"{RES}/{base}.tsv", "w", encoding="utf-8") as f:
        f.write(f"# width={width} total={len(order)} value_tcs={len(oks)} "
                f"error_tcs={len(errs)} skip_tcs={len(skips)}\n")
        # FILE ORDER preserved: some batteries flip a SET mid-file (concat's
        # concatBinaryAsString), so setups must interleave with TCs exactly
        # as the reference runs them; error TCs ride along tagged with the
        # Spark 4.1 exception class for the errors spec
        for i in order:
            if i in setups:
                f.write(f"{i}\tsetup\t{one(stmts[i])}\n")
            elif i in oks:
                f.write(f"{i}\ttc\t{one(stmts[i])}\n")
            elif i in skips:
                f.write(f"{i}\tskip:{skips[i]}\t{one(stmts[i])}\n")
            else:
                f.write(f"{i}\terr:{probe[i][2]}\t{one(stmts[i])}\n")

    with open(f"{RES}/{base}.oracle.sql", "w", encoding="utf-8") as f:
        vals = []
        for (tc, ty, cells) in rows:
            padded = cells + [None] * (width - len(cells))
            lit = [q(tc), q(ty)] + [
                "CAST(NULL AS VARCHAR)" if c is None else q(c)
                for c in padded]
            vals.append("(" + ", ".join(lit) + ")")
        cols = ["tc", "ty"] + [f"c{j}" for j in range(width)]
        if vals:
            f.write("SELECT * FROM (VALUES\n" + ",\n".join(vals) +
                    f"\n) AS t({', '.join(cols)})")
        else:
            # battery with zero value TCs (all error pins): empty result
            # with the same column names
            f.write("SELECT " + ", ".join(
                f"CAST(NULL AS VARCHAR) AS {c}" for c in cols) +
                " WHERE false")

    # ---- divergence report vs the 3.0 golden
    div = {"ERR_IN_41": [], "OK_IN_41": [], "TYPE_DIFF": [],
           "VALUE_DIFF": [], "RENDER_DIFF": []}
    match = 0
    for i in order:
        if i in setups or i in skips:
            continue
        g = golden[i]
        g_err = ("Exception" in g["out"].split("\n")[0]
                 or g["out"].startswith("org.apache.spark"))
        p = probe[i]
        if p[1] == "ERR":
            if g_err:
                match += 1
            else:
                div["ERR_IN_41"].append((i, p[2]))
            continue
        if g_err:
            div["OK_IN_41"].append((i, ""))
            continue
        # types
        gt = [norm_ty(t) for t in golden_types(g["schema"])]
        pt = [norm_ty(t) for t in split_top(p[2])]
        if gt != pt:
            div["TYPE_DIFF"].append((i, f"3.0={','.join(gt)} 4.1={','.join(pt)}"))
            continue
        # values (normalized: golden tab-sep rows, NULL marker)
        # strip BEFORE sorting (a leading-tab row and a tabless row must
        # not sort differently on the two sides)
        g_rows = sorted(x.strip() for x in g["out"].split("\n")) \
            if g["out"] else []
        p_rows = sorted(
            "\t".join("NULL" if v is None else v for v in r[2]).strip()
            for r in rows if r[0] == i)
        if g_rows != p_rows:
            # complex types render differently (3.0 golden = Hive-style
            # JSON, probe = Spark cast-to-string) — same values
            complex_ty = any(t.startswith(("map<", "array<", "struct<"))
                             for t in gt)
            key = "RENDER_DIFF" if complex_ty else "VALUE_DIFF"
            div[key].append((i, f"3.0={g_rows[:2]} 4.1={p_rows[:2]}"))
        else:
            match += 1
    return {"base": base, "n": len(order), "setups": len(setups),
            "oks": len(oks), "errs": len(errs), "match": match,
            "div": div, "stmts": stmts}


def main():
    bases = sys.argv[1:] or sorted(
        os.path.basename(p)[:-6] for p in glob.glob("/tmp/coerce/*.probe"))
    report = []
    for b in bases:
        r = gen(b)
        report.append(r)
        nd = sum(len(v) for v in r["div"].values())
        print(f"{b:28s} tcs={r['n']:5d} value={r['oks']:4d} "
              f"err={r['errs']:4d} match30={r['match']:4d} div30={nd}")
    with open("/tmp/coerce/report.json", "w") as f:
        json.dump([{k: v for k, v in r.items() if k != "stmts"}
                   for r in report], f, indent=1)


if __name__ == "__main__":
    main()
