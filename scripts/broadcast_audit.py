#!/usr/bin/env python
"""Broadcast/exchange-reuse audit of ONE registry entry (VERDICT r10
item 1): run the entry with the UI on, then walk the SQL tab's final
AQE plan and report every BroadcastExchange / Exchange / ReusedExchange
node with its data-size metric and the subtree fingerprint, so builds
of the SAME frame show up as repeated fingerprints WITHOUT a
ReusedExchange between them.

Usage: python scripts/broadcast_audit.py <entry> [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys
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
    spark = get_spark(app_name=f"bcast-audit-{name}")
    fn = REGISTRY[name].fn
    fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def get(path: str):
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/{path}") as r:
            return json.load(r)

    before = {q["id"] for q in get("sql")}
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    new = [q for q in get("sql?length=200") if q["id"] not in before]

    for q in new:
        print(f"\n=== SQL {q['id']}: {q['description'][:70]}  {q['duration']}ms ===")
        # node list with metrics
        nodes = q.get("nodes") or []
        for n in nodes:
            nm = n["nodeName"]
            if not re.search(r"Exchange|Reused|Subquery", nm):
                continue
            interesting = [
                m for m in n.get("metrics", [])
                if m["name"] in (
                    "data size", "dataSize", "number of output rows",
                    "shuffle bytes written", "time to broadcast",
                )
            ]
            mstr = ", ".join(f"{m['name']}={m['value']}" for m in interesting)
            print(f"  node {n['nodeId']:>3}  {nm:<28} {mstr}")


if __name__ == "__main__":
    main()
