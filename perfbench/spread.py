"""Run-to-run spread of the benchmark's metrics over several seeds:

    python3 perfbench/spread.py --workload curation --seeds 1 2 3 4 5 --seconds 10

Runs run.py once per seed, one after another, and prints for each metric
its median and the distance between its first and third quartile as a
share of the median -- the figure the benchmark's bounds are set against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t = time.time()
        res = subprocess.run(
            [sys.executable, RUN, "--workload", args.workload, "--seed",
             str(seed), "--seconds", str(args.seconds), "--trace",
             str(args.trace)], capture_output=True, text=True)
        if res.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{res.stderr[-2000:]}")
        out = json.loads(res.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {time.time() - t:.1f} s, correct="
              f"{out['correct']}, " + ", ".join(
                  f"{k}={m['value']:.4g}" for k, m in out["metrics"].items()),
              flush=True)
        for k, m in out["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{k:28s} median={med:.6g} iqr/median={share:.4f}")


if __name__ == "__main__":
    main()
