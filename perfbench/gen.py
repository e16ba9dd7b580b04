"""Benchmark inputs, derived from the repository's sf0.1 fixture.

`perfbench/data/sf0.1/` holds the ten sf0.1 fixture tables (the synthetic
seed-42 test data the engine's tests and `graft.Bench` read), byte for byte;
`SHA256SUMS` pins them. Two input profiles are built from it into a cache
directory:

- base: the fixture as it is (one row group per table). The seed does not
  change it.
- corpus: the fixture with its documents table replaced by a seeded variant.
  The fixture's documents already carry near-duplicates: a copy is an
  earlier document's text with " dup" appended (once or more). The variant
  plants PLANT_RATE x n_docs more copies the same way: the seed picks the
  source documents and the documents whose text is overwritten, both among
  documents that are in no cluster yet, and each overwritten document keeps
  its id, lang and source while `n_chars` is recomputed. The table is
  written in at least `cores` row groups.

Every profile also gets `truth.parquet`: (doc_id, cluster) for each document
that has a near-duplicate, where a cluster is the documents whose text is the
same once trailing " dup" words are stripped, and `planted.parquet`, the
(source, copy) pairs planted for this seed. Tables other than documents are
hard links to the fixture files (copies where links are not possible).

Usage (also called from run.py):
    python3 perfbench/gen.py <cache_dir> <seed> <profile> [--cores N]
"""
import fcntl
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                       "sf0.1")
PLANT_RATE = 0.05
SUFFIX = " dup"


def _verify_fixture():
    with open(os.path.join(FIXTURE, "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f if line.strip())
    for name, want in sums.items():
        with open(os.path.join(FIXTURE, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != want:
                raise SystemExit(f"perfbench: fixture file {name} does not "
                                 "match SHA256SUMS")
    return sorted(sums)


def _base(text):
    while text.endswith(SUFFIX):
        text = text[:-len(SUFFIX)]
    return text


def clusters(texts):
    """Cluster id (smallest member index) per document, -1 for singletons."""
    first, size = {}, {}
    for i, t in enumerate(texts):
        b = _base(t)
        first.setdefault(b, i)
        size[b] = size.get(b, 0) + 1
    return np.array([first[_base(t)] if size[_base(t)] > 1 else -1
                     for t in texts], dtype=np.int64)


def _plant(docs, seed):
    """Seeded planted copies; returns the new table and the planted pairs."""
    texts = docs.column("text").to_pylist()
    free = np.flatnonzero(clusters(texts) < 0)
    k = int(round(PLANT_RATE * len(texts)))
    rng = np.random.default_rng(seed)
    picked = rng.choice(free, 2 * k, replace=False)
    sources, copies = picked[:k], picked[k:]
    for s, c in zip(sources, copies):
        texts[c] = texts[s] + SUFFIX
    ids = docs.column("doc_id").to_numpy()
    docs = docs.set_column(docs.schema.get_field_index("text"), "text",
                           pa.array(texts, pa.string()))
    docs = docs.set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                           pa.array([len(t) for t in texts], pa.int64()))
    planted = pa.table({"source": ids[sources], "copy": ids[copies]})
    return docs, planted


def _link(src, dst):
    try:
        os.link(src, dst)
    except OSError:
        shutil.copyfile(src, dst)


def generate(out, seed, profile, cores):
    os.makedirs(out)
    for name in _verify_fixture():
        if not (profile == "corpus" and name == "documents.parquet"):
            _link(os.path.join(FIXTURE, name), os.path.join(out, name))
    docs = pq.read_table(os.path.join(FIXTURE, "documents.parquet"))
    planted = pa.table({"source": pa.array([], pa.int64()),
                        "copy": pa.array([], pa.int64())})
    if profile == "corpus":
        docs, planted = _plant(docs, seed)
        rg = -(-docs.num_rows // max(cores, 1))
        pq.write_table(docs, os.path.join(out, "documents.parquet"),
                       row_group_size=rg)
    ids = docs.column("doc_id").to_numpy()
    cl = clusters(docs.column("text").to_pylist())
    member = cl >= 0
    pq.write_table(pa.table({"doc_id": ids[member], "cluster": ids[cl[member]]}),
                   os.path.join(out, "truth.parquet"))
    pq.write_table(planted, os.path.join(out, "planted.parquet"))


def ensure(root, seed, profile, cores):
    """Build once per (profile, seed, version of this file); returns the
    table directory. Runs in the same checkout serialise on a lock, so none
    removes a directory another is reading."""
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    key = f"{profile}-seed{seed}" if profile == "corpus" else profile
    key = f"{key}-{version}"
    out = os.path.join(root, key)
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, f"{key}.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, "_DONE")):
            shutil.rmtree(out, ignore_errors=True)
            tmp = f"{out}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            generate(tmp, seed, profile, cores)
            open(os.path.join(tmp, "_DONE"), "w").close()
            os.rename(tmp, out)
    return out


if __name__ == "__main__":
    cores = int(sys.argv[sys.argv.index("--cores") + 1]) \
        if "--cores" in sys.argv else os.cpu_count()
    print(ensure(sys.argv[1], int(sys.argv[2]), sys.argv[3], cores))
