#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

Runs run.py once per seed on one workload, untraced, for BENCHMARK.json's
run_seconds, and prints, for every metric, the median and the distance
between the first and third quartile as a share of the median
(statistics.quantiles, n=4) next to the metric's bound in BENCHMARK.json.

Usage: python3 perfbench/spread.py --workload lake_query --seeds 1-10
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    a = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    lo, hi = (int(x) for x in a.seeds.split("-"))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {}
    for seed in range(lo, hi + 1):
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           capture_output=True, text=True, cwd=HERE.parent)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-1500:]}")
            continue
        last = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={last['correct']} attempted={last['attempted']} failed={last['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds[k]
        flag = "ok" if spread < b / 3 else ("within bound" if spread <= b else "OVER BOUND")
        print(f"{k:24s} median {med:12.5g}  spread {spread:7.2%}  bound {b}  {flag}")


if __name__ == "__main__":
    main()
