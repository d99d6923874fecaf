#!/usr/bin/env python3
"""Run one workload untraced for BENCHMARK.json's run_seconds over several
seeds and print each end-to-end metric's median and quartile spread
(q3 - q1) / median, the steadiness test the benchmark's bounds are held
to. From the repository root:

    python3 perfbench/spread.py --workload corpus_refresh --seeds 1 2 3 4 5
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, cwd=os.path.dirname(HERE),
        )
        wall = time.perf_counter() - t0
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
            return 1
        out = json.loads(r.stdout.strip().splitlines()[-1])
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: wall {wall:.1f}s correct={out['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
              flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = f"{(q3 - q1) / med:.3f}"
        else:
            spread = "n/a"
        print(f"{k}: median {med:.4g} spread {spread} bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
