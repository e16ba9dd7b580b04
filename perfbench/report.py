#!/usr/bin/env python3
"""Print every benchmark metric by name with its unit, plus the verdict.

    python3 perfbench/report.py [--seed N] [--seconds S]

Runs each workload twice through run.py, untraced (end-to-end metrics) and
traced (per-layer metrics), from the root of a checkout. Prints one line per
metric, the correctness verdict with every failing operation named, and the
tracing overhead (a traced pass against the untraced passes of the same JVM
before and after it).
Exits 1 if any output is wrong.
"""
import argparse
import json
import os
import subprocess
import sys

from run import E2E_UNITS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"{workload} (trace {trace}) failed:\n{out.stderr[-2000:]}")
    last = json.loads(out.stdout.strip().splitlines()[-1])
    path = next(l.split(" ", 2)[2] for l in reversed(out.stderr.splitlines())
                if l.startswith("perfbench: record "))
    with open(path) as f:
        return last, json.load(f)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    a = ap.parse_args()
    all_ok = True
    for wl in (w["name"] for w in spec["workloads"]):
        print(f"== {wl} (seed {a.seed}, {a.seconds} s)")
        for trace in (0, 1):
            last, rec = run(wl, a.seed, a.seconds, trace)
            if trace == 0:
                # every end-to-end figure; "*" marks those BENCHMARK.json bounds
                for name, v in rec["end_to_end"].items():
                    mark = "*" if name in last["metrics"] else " "
                    print(f" {mark}{name:24s} {v:14.4f} {E2E_UNITS[name]}")
                lat = rec["latency"]
                print(f"  (one run makes {len(rec['passes'])} pass(es) of "
                      f"{rec['ops_per_pass']} operations; latency_tail_s is "
                      f"p{lat['tail_percentile']} of n={lat['n']}; "
                      f"failed_frac {rec['failed_frac']:.4f})")
            else:
                for name, m in last["metrics"].items():
                    print(f"  {name:24s} {m['value']:14.4f} {m['unit']}")
                # the untraced run's pass is the JVM's first and coldest;
                # compare with the untraced passes around the traced one
                m = last["metrics"]
                print(f"  tracing overhead: traced pass "
                      f"{m['trace.wall_s']['value']:.3f} s, "
                      f"{m['trace.overhead_frac']['value']:+.1%} against the "
                      f"untraced passes before and after it")
            all_ok &= last["correct"]
            verdict = "correct" if last["correct"] else \
                "WRONG: " + ", ".join(rec["failing"])
            kinds = {}
            for v in rec["checks"].values():
                kinds[v["kind"]] = kinds.get(v["kind"], 0) + 1
            print(f"  verdict (trace {trace}): {verdict}; "
                  f"{last['attempted']} attempted, {last['failed']} failed; "
                  f"checks {kinds}")
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
