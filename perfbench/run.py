#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness from
source (once per source state, into .bench_build/), builds the seeded
inputs from the sf0.1 fixture in perfbench/data (cached per seed, see
gen.py), runs one benchmark JVM, checks every output and
prints one JSON line last: with --trace 0 the end-to-end metrics, with
--trace 1 the per-layer metrics of a traced run. The full record, stamped
with the host fingerprint and session profile, is written to
.bench_build/results/; its path is printed to stderr.

Workloads, metrics and the layer map are described in perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {
    # workload -> input profile (see gen.py)
    "fixture_mix": "base",
    "llm_curation": "corpus",
}
SETUP_REPS = 3
# every end-to-end figure in the record; BENCHMARK.json bounds a subset
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "queries_per_s": "1/s",
             "latency_p50_s": "s", "latency_tail_s": "s", "peak_rss_mb": "MB"}
JVM_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def refuse_knobs():
    """A/B knobs change the engine under test; never measure with them."""
    bad = sorted(k for k in os.environ
                 if k.startswith("GRAFT_") or k.startswith("SPARK_GRAFT_BENCH_"))
    if bad:
        fail("refusing to run with engine A/B variables set: " + ", ".join(bad))


def heap():
    """The tier-1 heap formula: half of MemTotal in GB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def sources_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"),
                             recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True) +
                   [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def wait_group(proc, timeout):
    """Wait for a child started in its own session; on timeout kill its
    whole process group and still wait for it."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return "timeout"


def build():
    """Compile engine + harness once per source state; return the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = sources_stamp()
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
                and os.path.exists(cp_file):
            return open(cp_file).read().strip()
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = wait_group(subprocess.Popen(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True), 800)
        lines = open(log).read().splitlines()
        if rc != 0:
            fail(f"build failed (see {log}):\n" + "\n".join(lines[-20:]))
        cp = next(l for l in reversed(lines)
                  if l.startswith("/") and ".jar" in l)
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


# Spark on JDK 17 outside spark-submit needs these; the engine's build.sbt
# passes the same list to its forked runs.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, args, run_dir, cores):
    """One benchmark JVM with a private java.io.tmpdir; killed with its
    process group on timeout, always waited for."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed young generation and initial heap, so peak RSS follows live
    # memory rather than the collector's adaptive heap sizing
    cmd = ["java", f"-Xmx{heap()}", "-Xms2g", "-Xmn1g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.level=warn"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        rc = wait_group(proc, JVM_TIMEOUT_S)
    finally:
        log.close()
    if rc != 0:
        tail = open(os.path.join(run_dir, "jvm.log")).read().splitlines()[-30:]
        fail(f"benchmark JVM failed ({rc}):\n" + "\n".join(tail))


def tail_percentile(n):
    """Highest whole percentile with at least ten samples beyond it."""
    return max(50, math.floor(100 * (n - 10) / n)) if n > 10 else 50


def quantile(xs, p):
    s = sorted(xs)
    k = (len(s) - 1) * p / 100
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    refuse_knobs()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft; "
             "run from the root of a graft checkout", code=3)
    cores = os.cpu_count() or 1
    profile = WORKLOADS[a.workload]
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("no BENCHMARK.json at the root of the checkout", code=3)
    cp = build()
    data = gen.ensure(os.path.join(BUILD, "data"), a.seed, profile, cores)
    run_dir = os.path.join(BUILD, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), data,
                 run_dir, str(cores), str(SETUP_REPS)], run_dir, cores)
    res = json.load(open(os.path.join(run_dir, "result.json")))

    verdicts = check.verify(res["checks"], data)
    wrong = {n for n, v in verdicts.items() if not v["ok"]}
    recs = [r for r in res["records"] if r["traced"] == bool(a.trace)]
    attempted = len(recs)
    failed_recs = [r for r in recs if not r["ok"] or r["op"] in wrong]
    failing = sorted({r["op"] for r in failed_recs} | wrong)
    lat = [r["latency_s"] for r in recs if r["ok"]]
    tail_p = tail_percentile(len(lat))
    passes = [p for p in res["passes"] if p["traced"] == bool(a.trace)]
    untraced = [p["wall_s"] for p in res["passes"]
                if not p["traced"] and not p["warmup"]]
    measured_s = res["measured_s"] if a.trace == 0 else passes[0]["wall_s"]
    setup = {k: statistics.median(s[k] for s in res["setups"])
             for k in res["setups"][0]}
    e2e = {
        "setup_s": setup["setup_s"],
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "queries_per_s": len(lat) / measured_s,
        "latency_p50_s": statistics.median(lat) if lat else float("nan"),
        "latency_tail_s": quantile(lat, tail_p) if lat else float("nan"),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    record = {
        "host": {"nproc": cores, "heap": heap(), "heap_mb": res["heap_mb"],
                 "jdk": res["jdk"], "spark": res["spark"], "git_sha": git_sha(),
                 "seed": a.seed},
        "workload": a.workload, "trace": a.trace, "seconds": a.seconds,
        "session_profile": res["profile"], "ops_per_pass": res["ops_per_pass"],
        "setup": setup, "setups": res["setups"],
        "end_to_end": e2e,
        "latency": {"n": len(lat), "tail_percentile": tail_p},
        "attempted": attempted, "failed": len(failed_recs),
        "failed_frac": len(failed_recs) / max(attempted, 1),
        "failing": failing, "errors": res["errors"], "checks": verdicts,
        "passes": res["passes"], "records": res["records"],
    }
    if a.trace == 1:
        layer = dict(res["trace"]["metrics"])
        traced_wall = statistics.median(p["wall_s"] for p in passes)
        layer["trace.wall_s"] = traced_wall
        layer["trace.overhead_frac"] = \
            traced_wall / statistics.mean(untraced) - 1 if untraced else 0.0
        layer.update({f"setup.{k}": setup[k]
                      for k in ("session_s", "fixture_s", "warmup_s")})
        layer["failed_frac"] = record["failed_frac"]
        out_rows = sum(v.get("rows", 0) for v in verdicts.values())
        layer["scan.rows_per_out_row"] = \
            layer["scan.rows_in"] / out_rows if out_rows else 0.0
        n_docs = check.documents(data) if a.workload == "llm_curation" else 0
        layer["docs_per_s"] = n_docs * len(lat) / measured_s
        record["per_layer"] = layer
        with open(os.path.join(run_dir, "trace.json"), "w") as f:
            json.dump(res["trace"]["spans"], f)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    path = os.path.join(BUILD, "results", os.path.basename(run_dir) + ".json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"perfbench: record {path}", file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = e2e if a.trace == 0 else record["per_layer"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec["end_to_end" if a.trace == 0 else "per_layer"]}
    print(json.dumps({"correct": not failing, "attempted": attempted,
                      "failed": len(failed_recs), "metrics": metrics}))


if __name__ == "__main__":
    main()
