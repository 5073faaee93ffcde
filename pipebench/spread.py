"""Run the benchmark once per seed and report, per metric, the median
and the spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.

    python3 pipebench/spread.py --workload cmapss_rul_fleet --seeds 1-10

Each run's result line is appended to ``--log`` (default
``.pipebench_out/runs.jsonl``) with its workload and seed.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2 if q2 else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--log", default=os.path.join(ROOT, ".pipebench_out", "runs.jsonl"))
    args = ap.parse_args()
    os.makedirs(os.path.dirname(args.log), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        wall = time.perf_counter() - t0
        with open(args.log, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": wall, **result}) + "\n")
        print(f"seed {seed}: correct={result['correct']} wall={wall:.1f}s", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"{'metric':<48} {'median':>12} {'spread':>8}")
    for name, vals in values.items():
        if len(vals) >= 2:
            med, sp = spread(vals)
            print(f"{name:<48} {med:>12.4f} {sp:>8.2%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
