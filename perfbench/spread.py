#!/usr/bin/env python3
"""Steadiness check: run one workload over several seeds and print, per
end-to-end metric, the median and the quartile spread ((Q3 - Q1) / median)
against the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload etl_reports --runs 10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402

# Seeds 100, 101, ...: neither the default nor the held-out seed.
FIRST_SEED = 100


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values = {}
    seeds = range(FIRST_SEED, FIRST_SEED + a.runs)
    for seed in seeds:
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                              "--workload", a.workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                             cwd=run.ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr[-2000:]}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        sp = stats.quartile_spread(xs)
        flag = "ok" if sp < m["bound"] / 3 else ("within bound" if sp <= m["bound"] else "OVER")
        print(f"{m['name']}: median {statistics.median(xs):.4g} spread {sp:.3f} "
              f"bound {m['bound']} {flag}")


if __name__ == "__main__":
    main()
