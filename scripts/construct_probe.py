#!/usr/bin/env python
"""Measure per-entry DataFrame CONSTRUCTION time (the driver-side cost of
building the unanalyzed plan: py4j Column round-trips + F.expr parses +
any eager work the builder does, e.g. barrier localCheckpoints or guard
counts). bench.py's timed region is `fn(spark, sf_dir)` + noop
materialization, so construction is a first-class component of every
benched number — this probe separates it from execution.

Usage: python scripts/construct_probe.py [sf_dir] [entry ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from turbine_maintenance_etl_spark import get_spark  # noqa: E402
from turbine_maintenance_etl_spark.queries import load_registry  # noqa: E402

REGISTRY = load_registry()


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    names = args[1:]
    if not names:
        from bench import BENCH_QUERIES

        names = BENCH_QUERIES
    spark = get_spark(app_name="construct-probe")
    # warm the session (file index, first-call overheads)
    for name in names[:1]:
        REGISTRY[name].fn(spark, sf_dir)
    rows = []
    for name in names:
        fn = REGISTRY[name].fn
        fn(spark, sf_dir)  # warm any per-corpus memo state
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir)
            reps.append(time.perf_counter() - t0)
        rows.append((min(reps), name))
    rows.sort(reverse=True)
    total = sum(r[0] for r in rows)
    print(f"construction total (min of 3): {total:.2f}s over {len(rows)} entries")
    for t, name in rows:
        print(f"{t:8.3f}  {name}")


if __name__ == "__main__":
    main()
