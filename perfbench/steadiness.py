"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1] [--workload NAME ...] [--out FILE]

Runs the benchmark once per seed (``first-seed`` .. ``first-seed + runs - 1``)
on each workload, one run at a time, and reports per metric the median,
the quartiles and the spread: (Q3 - Q1) / median, with the quartiles of
``statistics.quantiles(values, n=4)``. A spread above a third of the
metric's bound is flagged. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    report = {}
    for wl in workloads:
        values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
        walls: list[float] = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = spec["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", "0",
            ]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
            walls.append(time.perf_counter() - t0)
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if not result["correct"]:
                print(f"{wl} seed {seed}: incorrect output\n{proc.stderr[-2000:]}", file=sys.stderr)
                return 1
            for name, m in result["metrics"].items():
                values[name].append(m["value"])
            print(wl, seed, f"{walls[-1]:.1f}s", {k: round(v[-1], 4) for k, v in values.items()},
                  file=sys.stderr, flush=True)
        report[wl] = {"run_wall_s": walls}
        for m in spec["end_to_end"]:
            vals = values[m["name"]]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            report[wl][m["name"]] = {
                "median": med, "q1": q1, "q3": q3, "spread": spread,
                "bound": m["bound"], "within_third_of_bound": spread <= m["bound"] / 3,
                "values": vals,
            }
    text = json.dumps(report, indent=1)
    print(text)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
