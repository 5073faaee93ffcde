#!/usr/bin/env python
"""Per-entry bench harness for optimization A/Bs: same methodology as
bench.py (sf0.001 warm-up, adjacent target-SF warm run, clearCache()
before each rep, noop-sink materialization, median of 3-7 reps with the
1.5x-spread escape) but over an explicit entry list, so a single query
can be measured without paying the full 67-entry pass.

Usage: python scripts/bench_one.py name1 [name2 ...] [--reps N]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from turbine_maintenance_etl_spark import get_spark  # noqa: E402
from turbine_maintenance_etl_spark.queries import load_registry  # noqa: E402

REGISTRY = load_registry()


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = [a for a in sys.argv[1:]]
    reps = 7
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    names = args
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown entries: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench-one")
    warm_dir = "/root/testdata/sf0.001"
    timings: dict[str, float] = {}
    minmax: dict[str, list[float]] = {}
    for name in names:
        fn = REGISTRY[name].fn
        if os.path.isdir(warm_dir) and warm_dir != sf_dir:
            _materialize(fn(spark, warm_dir))
        _materialize(fn(spark, sf_dir))
        runs: list[float] = []
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            _materialize(fn(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
            if len(runs) >= 3 and max(runs) <= 1.5 * min(runs):
                break
        runs.sort()
        timings[name] = round(runs[len(runs) // 2], 4)
        minmax[name] = [round(runs[0], 4), round(runs[-1], 4)]
        print(f"{name}: median={timings[name]} minmax={minmax[name]}", file=sys.stderr)
    print(json.dumps({"queries": timings, "queries_minmax": minmax, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
