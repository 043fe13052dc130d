#!/usr/bin/env python3
"""Run a workload once per seed and report each metric's median and
quartile spread (IQR as a share of the median), next to its bound.

Usage (from the repository root):

    python3 perfbench/spread.py --workload ingest --seeds 1-10 [--trace 1]
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
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lo, hi = (int(x) for x in a.seeds.split("-"))
    values, failed = {}, 0
    for seed in range(lo, hi + 1):
        p = subprocess.run(bench["command"] + [
            "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", a.trace],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        r = json.loads(line) if line.startswith("{") else {}
        ok = p.returncode == 0 and r.get("correct") is True
        failed += 0 if ok else 1
        for k, v in r.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: exit {p.returncode} correct {r.get('correct')} "
              f"{ {k: round(v['value'], 4) for k, v in r.get('metrics', {}).items()} }",
              flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{k:32s} median {med:14.4f}  spread {spread:6.3f}  bound {bounds.get(k)}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
