#!/usr/bin/env python3
"""Steadiness check: run one workload under several seeds and report, per
metric, the median and the interquartile range as a share of the median.

    python3 perfbench/steady.py --workload graph_fixpoint --seeds 10 [--trace 1]

Runs are sequential; each prints its result line to stderr as it finishes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values = {}
    for seed in range(args.first_seed, args.first_seed + args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, check=True).stdout
        lines = out.strip().splitlines()
        res = json.loads(lines[-1])
        steal = next((ln.split()[1] for ln in lines if ln.startswith("host.steal_frac ")), "?")
        print(f"seed {seed}: steal {steal} {json.dumps(res)}", file=sys.stderr, flush=True)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        # a traced run also prints its own end-to-end values, for the
        # tracing overhead
        for ln in lines:
            if ln.startswith("traced."):
                name, value, _ = ln.split()
                values.setdefault(name, []).append(float(value))
    for name, vs in values.items():
        sp = stats.spread(vs) if len(vs) >= 2 and statistics.median(vs) else float("nan")
        print(f"{name} median {statistics.median(vs):.4f} spread {sp:.4f} n {len(vs)}")


if __name__ == "__main__":
    main()
