"""Output checks for one benchmark run.

Every operation's output from the untimed pass is checked one of three ways:
- rows with a DuckDB oracle: the oracle SQL runs over the same parquet
  inputs; both results are normalised (columns by name, cells as text, rows
  sorted) and compared by SHA-256 of the normalised rows;
- near-duplicate rows without an oracle (output columns doc_a, doc_b):
  recall of the true near-duplicate pairs (every pair inside a cluster of
  gen.py's `truth.parquet`) and precision (found pairs that are true);
- the curation job: every document outside a cluster kept, at least one
  survivor in every cluster, exactly one (the longest copy, ties to the
  smallest id) in at least MIN_RECALL of the clusters, unique keepers and
  valid split labels. Clusters missed are MinHash's approximation; a
  document outside every cluster has no near-duplicate, so dropping it is
  always wrong.
Anything else is reported as "ran" (executed without error, no oracle).
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MIN_RECALL = 0.95
MIN_PRECISION = 0.95


def _read(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def _digest(df):
    df = df.reindex(sorted(df.columns), axis=1).astype(object)
    rows = sorted(tuple(str(v) for v in r) for r in df.itertuples(index=False))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest(), len(rows)


def _truth(data):
    """doc_id -> cluster for every document that has a near-duplicate."""
    t = pd.read_parquet(os.path.join(data, "truth.parquet"))
    return dict(zip(t.doc_id.tolist(), t.cluster.tolist()))


def documents(data):
    return duckdb.sql(f"SELECT count(*) FROM "
                      f"'{os.path.join(data, 'documents.parquet')}'").fetchone()[0]


def _oracle(con, got, sql, cache):
    """The oracle's normalised result depends only on the inputs and the
    SQL, so it is computed once per (inputs, SQL) and cached."""
    key = os.path.join(cache, hashlib.sha256(sql.encode()).hexdigest() + ".json")
    if os.path.exists(key):
        with open(key) as f:
            cols, hw, nw = json.load(f)
    else:
        want = con.execute(sql).df()
        cols, (hw, nw) = sorted(want.columns), _digest(want)
        tmp = f"{key}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump([cols, hw, nw], f)
        os.replace(tmp, key)
    if sorted(got.columns) != cols:
        return False, f"columns {sorted(got.columns)} vs {cols}"
    hg, ng = _digest(got)
    if hg != hw:
        return False, f"result hash differs ({ng} vs {nw} rows)"
    return True, f"hash {hg[:16]}"


def _recall(got, truth):
    found = {(min(a, b), max(a, b)) for a, b in
             zip(got.doc_a.tolist(), got.doc_b.tolist())}
    members = {}
    for d, c in truth.items():
        members.setdefault(c, []).append(d)
    pairs = {(a, b) for ds in members.values() for a in ds for b in ds if a < b}
    r = len(pairs & found) / len(pairs)
    p = len(pairs & found) / len(found) if found else 0.0
    return (r >= MIN_RECALL and p >= MIN_PRECISION,
            f"true-pair recall {r:.3f}, precision {p:.3f} ({len(found)} pairs)")


def _curation(got, truth, docs):
    ids = got.doc_id.tolist()
    if len(ids) != len(set(ids)):
        return False, "duplicate keepers"
    if not set(got.split.unique()) <= {"train", "val", "test"}:
        return False, "invalid split labels"
    kept = set(ids)
    if not kept <= set(docs.doc_id.tolist()):
        return False, "keepers that are not corpus documents"
    lone = set(docs.doc_id.tolist()) - set(truth)
    if lone - kept:
        return False, f"{len(lone - kept)} documents without a near-duplicate dropped"
    n_chars = dict(zip(docs.doc_id.tolist(), docs.n_chars.tolist()))
    members = {}
    for d, c in truth.items():
        members.setdefault(c, []).append(d)
    exact = 0
    for ds in members.values():
        survivors = kept.intersection(ds)
        if not survivors:
            return False, f"cluster {min(ds)} lost every copy"
        best = min(ds, key=lambda d: (-n_chars[d], d))
        exact += survivors == {best}
    r = exact / len(members)
    want = len(lone) + len(members)
    return r >= MIN_RECALL, (f"clusters reduced to their best copy {r:.3f}; "
                             f"{len(kept)} kept, {want} if every cluster were")


def verify(checks, data):
    cache = os.path.join(data, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t + '.parquet')}'")
    truth = _truth(data)
    out = {}
    for c in checks:
        name = c["op"]
        if not c["ok"]:
            out[name] = {"ok": False, "kind": "error", "detail": c["error"]}
            continue
        try:
            got = _read(c["path"])
            if got is None:
                out[name] = {"ok": False, "kind": "error", "detail": "no output"}
                continue
            if c.get("oracle"):
                kind, (ok, detail) = "oracle", _oracle(con, got, c["oracle"], cache)
            elif name == "curation_job":
                docs = con.execute("SELECT doc_id, n_chars FROM documents").df()
                kind, (ok, detail) = "recall", _curation(got, truth, docs)
            elif {"doc_a", "doc_b"} <= set(got.columns):
                kind, (ok, detail) = "recall", _recall(got, truth)
            else:
                kind, ok, detail = "ran", True, "no oracle"
            out[name] = {"ok": ok, "kind": kind, "detail": detail,
                         "rows": len(got)}
        except Exception as e:  # a failing oracle is a failed check
            out[name] = {"ok": False, "kind": "error",
                         "detail": f"{type(e).__name__}: {e}"}
    con.close()
    return out
