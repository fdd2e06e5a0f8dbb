#!/usr/bin/env python3
"""Run the benchmark on several seeds and report how steady each metric is.

Run from the repository root:

    python3 perfbench/steadiness.py --workloads stream_ref,query_mix --runs 10

For every end-to-end metric of BENCHMARK.json this prints the median of the
runs, its first and third quartile and the spread: the distance between the first and third quartile
(statistics.quantiles, n=4) as a share of the median, next to a third of the
metric's bound. Raw result lines are appended to --log when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in args.workloads.split(","):
        values = {}
        for i in range(args.runs):
            seed = args.first_seed + i
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", str(args.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, "exit": out.returncode,
                                        "result": last}) + "\n")
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}")
                continue
            result = json.loads(last)
            if not result["correct"]:
                print(f"{w} seed {seed}: {result['failed']} of {result['attempted']} checks failed")
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        for name, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("inf")
            limit = bounds.get(name, 0) / 3
            print(f"{w:10s} {name:18s} median {med:10.4f} [{q[0]:.4f}, {q[2]:.4f}] "
                  f"spread {spread:6.3f} (a third of the bound: {limit:.3f}) n={len(vs)}")


if __name__ == "__main__":
    main()
