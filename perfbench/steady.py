"""Steadiness mode: repeat a workload over several seeds and report, for
each metric, the median, the quartiles and the spread (interquartile
range over median) against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload cdc_ingest --runs 10
    python3 perfbench/steady.py --workload analytics_mix --runs 5 --trace 1

A metric is steady when its spread is below a third of its bound.
Exits 1 if any run fails or, for end-to-end metrics, any spread is not
steady.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description="repeat a workload; report spreads")
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    samples: dict[str, list[float]] = {}
    ok = True
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            ok = False
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        result = json.loads(lines[-1])
        print(f"seed {seed} ({wall:.0f} s): " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            samples.setdefault(k, []).append(v["value"])

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"{'metric':40} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name, values in samples.items():
        if len(values) < 2:
            continue
        q1, med, q3 = quartiles(values)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(name)
        verdict = ""
        if bound is not None:
            steady = spread < bound / 3
            ok &= steady
            verdict = "steady" if steady else "NOT STEADY"
        print(f"{name:40} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} "
              f"{'' if bound is None else bound:>6} {verdict}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
