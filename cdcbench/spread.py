"""Run one workload N times back to back and report each end-to-end
metric's median and quartile spread next to its bound.

    python3 cdcbench/spread.py --workload tail --runs 10 --first-seed 100

Each run uses its own seed (first-seed, first-seed + 1, ...). The spread is
(Q3 - Q1) / median with Python's ``statistics.quantiles(values, n=4)``;
a metric is steady when its spread stays below a third of its bound. The
runs' wall times size the cost of a full set of checks. Every run must
pass its correctness gate, or the tool exits non-zero.
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
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]

    values: dict[str, list[float]] = {m["name"]: [] for m in metrics}
    walls, bad = [], 0
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t = time.monotonic()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(time.monotonic() - t)
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        if result is None or not result["correct"]:
            bad += 1
            print(f"seed {seed}: FAILED (exit {p.returncode})\n{p.stderr[-2000:]}", file=sys.stderr)
            continue
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        host = json.loads(lines[-2][len("detail "):])["host"]
        print(f"seed {seed}: {walls[-1]:.1f} s steal={host['steal_share']:.3f} "
              f"load1={host['load1']:.1f} " + " ".join(
                  f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)

    print(f"\n{args.workload}: {args.runs} runs, {bad} failed; run wall "
          f"median {statistics.median(walls):.1f} s, max {max(walls):.1f} s, "
          f"total {sum(walls):.0f} s")
    print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
    for m in metrics:
        v = values[m["name"]]
        if len(v) < 2:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        bound = m["bound"]
        flag = "ok" if spread < bound / 3 else "NOISY"
        print(f"{m['name']:28s} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:7.3f} {bound:>6} {flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
