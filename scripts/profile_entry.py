#!/usr/bin/env python
"""Profile ONE registry entry: run it with the Spark UI enabled and
report every Spark job the timed run submitted (duration, description),
so per-entry wall time decomposes into its actual jobs (guard counts,
barriers, approxQuantile passes, the final noop materialization...).

Usage: SPARK_UI=true python scripts/profile_entry.py <entry> [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_UI", "true")

from turbine_maintenance_etl_spark import get_spark  # noqa: E402
from turbine_maintenance_etl_spark.queries import load_registry  # noqa: E402

REGISTRY = load_registry()


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark(app_name=f"profile-{name}")
    fn = REGISTRY[name].fn
    # warm run (JVM/codegen/corpus-state)
    fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    jobs_url = f"{ui}/api/v1/applications/{app_id}/jobs"

    def jobs() -> list[dict]:
        with urllib.request.urlopen(jobs_url) as r:
            return json.load(r)

    before_ids = {j["jobId"] for j in jobs()}
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    new = [j for j in jobs() if j["jobId"] not in before_ids]
    new.sort(key=lambda j: j["jobId"])
    print(f"\n=== {name}: wall {wall:.3f}s, {len(new)} jobs ===")
    total = 0.0
    from collections import defaultdict
    from datetime import datetime

    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
    groups: dict[str, list[float]] = defaultdict(list)
    for j in new:
        st = datetime.strptime(j["submissionTime"], fmt)
        ct = datetime.strptime(j["completionTime"], fmt)
        dur = (ct - st).total_seconds()
        total += dur
        desc = (j.get("description") or j["name"]).split(" at ")[0][:80]
        groups[desc].append(dur)
    for desc, durs in sorted(groups.items(), key=lambda kv: -sum(kv[1])):
        print(f"  {sum(durs):7.3f}s  n={len(durs):>3}  {desc}")
    print(f"  sum-of-jobs {total:.3f}s  gaps(driver/planning) {wall - total:.3f}s")


if __name__ == "__main__":
    main()
