#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes.

Run from the repository root (about five minutes on 4 cores):

    python3 perfbench/selftest.py

Checks that
  * the same seed regenerates identical raw envelopes and another seed does not;
  * every workload, untraced, reports every end-to-end metric of
    BENCHMARK.json with error_rate 0, and, traced, every per-layer metric;
  * a planted wrong answer (rows dropped before the JDBC load, a duplicated
    query output row) makes the checks fail and raises error_rate.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_ref", "query_mix")


def run(workload, *extra, seed=7, trace=0, seconds=2):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--tiny", *extra]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"FAIL {' '.join(cmd[1:])}: exit {out.returncode}\n{out.stdout[-2000:]}")
    lines = out.stdout.strip().splitlines()
    return lines[:-1], lines[-1]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            failures.append(what)

    digests = [run("stream_ref", "--digest", seed=s)[1] for s in (5, 5, 6)]
    expect(digests[0] == digests[1], "same seed regenerates identical inputs")
    expect(digests[0] != digests[2], "another seed generates other inputs")

    for w in WORKLOADS:
        for trace, names in ((0, e2e), (1, layers)):
            info, last = run(w, trace=trace)
            result = json.loads(last)
            expect(result["correct"] and result["failed"] == 0 and result["attempted"] > 0,
                   f"{w} trace={trace}: correct with {result['attempted']} checks")
            expect(set(result["metrics"]) == names,
                   f"{w} trace={trace}: reports exactly the BENCHMARK.json metrics")
            expect("metric error_rate 0.000000 ratio" in info, f"{w} trace={trace}: error_rate 0")

    # every kind of check must catch the planted defect
    kinds = {"stream_ref": ("served (rows, notavailable)", "pack plan", "users dim"),
             "query_mix": ("fingerprint",)}
    for w, messages in kinds.items():
        info, last = run(w, "--plant-defect")
        result = json.loads(last)
        rate = [l for l in info if l.startswith("metric error_rate ")]
        expect(not result["correct"] and result["failed"] > 0
               and rate and float(rate[0].split()[2]) > 0,
               f"{w}: a planted wrong answer fails {result['failed']} checks")
        for m in messages:
            expect(any(l.startswith("check failed:") and m in l for l in info),
                   f"{w}: the '{m}' check fails on the planted defect")

    print("selftest:", "FAILED" if failures else "passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
