#!/usr/bin/env python3
"""Run one workload over a range of seeds and report each metric's median
and spread (interquartile range as a share of the median, from
`statistics.quantiles(values, n=4)`) against the bounds in BENCHMARK.json.

    python3 perfbench/spread.py ingest_mixed 1001-1010 [--trace 1]

Run from the repository root. Runs are sequential; each result line is kept
in `.bench_build/perfbench/spread-<workload>.jsonl`.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload")
    ap.add_argument("seeds", type=seed_range, help="first-last, e.g. 1001-1010")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seconds = str(bench["run_seconds"])
    log = os.path.join(".bench_build", "perfbench", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)

    values = {}
    for seed in args.seeds:
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", str(args.trace)],
            capture_output=True, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: failed (exit {p.returncode})")
            continue
        res = json.loads(lines[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, "result": res}) + "\n")
        print(f"seed {seed}: wall {wall:.1f} s, correct {res['correct']}, "
              f"failed {res['failed']}/{res['attempted']}")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    if args.trace == 0:
        for name, xs in sorted(values.items()):
            med = statistics.median(xs)
            if len(xs) < 2 or med == 0:
                print(f"{name:12s} median {med:.4f}")
                continue
            q1, _, q3 = statistics.quantiles(xs, n=4)
            print(f"{name:12s} median {med:.4f}  q1 {q1:.4f}  q3 {q3:.4f}  "
                  f"spread {(q3 - q1) / med:.4f}  bound {bounds.get(name)}")


if __name__ == "__main__":
    main()
