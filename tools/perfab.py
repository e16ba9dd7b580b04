#!/usr/bin/env python3
"""Alternating-pair A/B of two graft checkouts on one perfbench workload.

    python3 tools/perfab.py <parentDir> <changeDir> --workload W --pairs N --first-seed S

Pair i runs `perfbench/run.py --workload W --seed S+i --seconds <run_seconds>
--trace 0` once in each checkout, the parent first in even pairs and the
change first in odd ones. Each checkout builds from its own source, so run
the two sides from separate checkouts. The run seconds, the end-to-end
metrics and their bounds come from the parent's BENCHMARK.json.

Per metric it prints each side's median and quartiles, the pairs the change
won, and a verdict:
- `REGRESSED` when the change's median is worse than the parent's by more
  than the metric's bound (a fraction of the parent's median);
- `IMPROVED` when the change won at least 9 in 10 pairs and the medians
  differ by more than the parent's interquartile range;
- `flat` otherwise.
It also prints each side's failed operations. Exit 0 when no metric
regressed and no run failed an operation, 1 otherwise, 2 on a usage error.

A checkout is refused when its `.bench_build/classpath.txt` names a classes
directory outside the checkout. A copied, already-built checkout carries
the original's build state, and its first build can delete the original's
classes.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def die(msg):
    print(f"perfab: {msg}", file=sys.stderr)
    sys.exit(2)


def checkout(path):
    root = os.path.realpath(path)
    if not os.path.isfile(os.path.join(root, "perfbench", "run.py")):
        die(f"{path} is not a graft checkout (no perfbench/run.py)")
    cp = os.path.join(root, ".bench_build", "classpath.txt")
    if os.path.exists(cp):
        for entry in open(cp).read().strip().split(os.pathsep):
            if entry.endswith(".jar"):
                continue
            real = os.path.realpath(entry)
            if os.path.commonpath([root, real]) != root:
                die(f"{cp} names {entry}, outside {root}: a copy of a built "
                    "checkout; remove its .bench_build/ and rebuild")
    return root


def quartiles(xs):
    s = sorted(xs)

    def q(p):
        k = (len(s) - 1) * p
        lo, hi = math.floor(k), math.ceil(k)
        return s[lo] + (s[hi] - s[lo]) * (k - lo)
    return q(0.25), q(0.5), q(0.75)


def run(root, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        die(f"run failed in {root} (seed {seed}, exit {proc.returncode}):\n"
            + "\n".join(proc.stderr.strip().splitlines()[-15:]))
    return json.loads(lines[-1])


def verdict(m, parent, change):
    lower = m["better"] == "lower"
    p25, pmed, p75 = quartiles(parent)
    cmed = statistics.median(change)
    worse = cmed - pmed if lower else pmed - cmed
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    if worse > m["bound"] * abs(pmed):
        v = "REGRESSED"
    elif wins >= math.ceil(0.9 * len(parent)) and -worse > p75 - p25:
        v = "IMPROVED"
    else:
        v = "flat"
    return wins, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--first-seed", type=int, required=True)
    a = ap.parse_args()
    if a.pairs < 1:
        die(f"--pairs must be >= 1, got {a.pairs}")
    parent, change = checkout(a.parent), checkout(a.change)
    if parent == change:
        die("parent and change are the same checkout")
    spec = json.load(open(os.path.join(parent, "BENCHMARK.json")))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"BENCHMARK.json declares no workload {a.workload}")
    metrics = spec["end_to_end"]
    vals = {side: {m["name"]: [] for m in metrics} for side in ("parent", "change")}
    failed = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = [("parent", parent), ("change", change)]
        for side, root in order if i % 2 == 0 else order[::-1]:
            res = run(root, a.workload, seed, spec["run_seconds"])
            for m in metrics:
                vals[side][m["name"]].append(res["metrics"][m["name"]]["value"])
            failed[side].append(res["failed"])
            print(f"perfab: pair {i + 1}/{a.pairs} seed {seed} {side}: " +
                  " ".join(f"{m['name']}={res['metrics'][m['name']]['value']:.3f}"
                           for m in metrics) + f" failed={res['failed']}",
                  file=sys.stderr, flush=True)
    print(f"workload {a.workload}, {a.pairs} pairs, seeds {a.first_seed}.."
          f"{a.first_seed + a.pairs - 1}, {spec['run_seconds']} s runs")
    print(f"parent {parent}\nchange {change}")
    print(f"{'metric':<15} {'parent median [q1-q3]':>26} "
          f"{'change median [q1-q3]':>26} {'ratio':>6} {'wins':>6} "
          f"{'bound':>6}  verdict")
    regressed = False
    for m in metrics:
        p, c = vals["parent"][m["name"]], vals["change"][m["name"]]
        pq, cq = quartiles(p), quartiles(c)
        wins, v = verdict(m, p, c)
        regressed |= v == "REGRESSED"
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        print(f"{m['name']:<15} {pq[1]:>9.3f} [{pq[0]:.3f}-{pq[2]:.3f}] "
              f"{cq[1]:>9.3f} [{cq[0]:.3f}-{cq[2]:.3f}] {ratio:>6.3f} "
              f"{wins:>3}/{a.pairs:<2} {m['bound']:>6.2f}  {v}")
    for side in ("parent", "change"):
        print(f"{side} failed operations per run: {failed[side]}")
    print(json.dumps({"workload": a.workload, "seeds": [
        a.first_seed, a.first_seed + a.pairs - 1], "values": vals,
        "failed": failed}))
    sys.exit(1 if regressed or any(failed["parent"] + failed["change"]) else 0)


if __name__ == "__main__":
    main()
