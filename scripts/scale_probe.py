#!/usr/bin/env python
"""8x scale probe: replicate the sf0.1 corpus tables 8x (id-shifted,
text-perturbed so exact dedup can't collapse the replicas) and compare
each named registry query's wall time at 1x vs 8x. Near-linear ops show
a ratio ~<= 8/parallel-headroom (empirically ~1-3 on local[32], since
sf0.1 underutilizes the box); super-linear ratios flag a quadratic.

Usage: python scripts/scale_probe.py q1,q2,... [--sf-dir D] [--reps N]
Writes nothing; prints a markdown table row per query (paste into
PLANS.md's probe section).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def build_replica(spark, sf_dir: str, out_dir: str, reps: int) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_docs = docs.count()
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_emb = emb.count()
    doc_parts = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * (n_docs + 1)))
        .withColumn(
            "text",
            F.concat(F.lit(f"rep{i} tag{i} "), F.col("text"))
            if i
            else F.col("text"),
        )
        for i in range(reps)
    ]
    d = doc_parts[0]
    for p in doc_parts[1:]:
        d = d.unionByName(p)
    d.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))
    e_parts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * (n_emb + 1)))
        for i in range(reps)
    ]
    e = e_parts[0]
    for p in e_parts[1:]:
        e = e.unionByName(p)
    e.write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings.parquet"))
    for t in TABLES:
        if t in ("documents", "embeddings"):
            continue
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(src) and not os.path.exists(dst):
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)


def time_query(spark, fn, sf_dir: str, runs: int = 2) -> float:
    best = float("inf")
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        # noop-sink materialize (the round-7 bench fix): count() lets
        # Catalyst prune computed columns, which would understate the
        # 8x side exactly where the probe is looking for super-linearity
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    names = sys.argv[1].split(",")
    sf_dir = "/root/testdata/sf0.1"
    reps = 8
    args = sys.argv[2:]
    if "--sf-dir" in args:
        sf_dir = args[args.index("--sf-dir") + 1]
    if "--reps" in args:
        reps = int(args[args.index("--reps") + 1])

    from turbine_maintenance_etl_spark import get_spark
    from turbine_maintenance_etl_spark.queries import load_registry
    REGISTRY = load_registry()

    spark = get_spark(app_name="scale-probe")
    out_dir = f"/tmp/probe{reps}x"
    build_replica(spark, sf_dir, out_dir, reps)

    print(f"| query | sf0.1 | {reps}x data | ratio |")
    print("|---|---|---|---|")
    for name in names:
        fn = REGISTRY[name].fn
        base = time_query(spark, fn, sf_dir)
        big = time_query(spark, fn, out_dir)
        print(f"| {name} | {base:.2f}s | {big:.2f}s | {big / base:.1f} |")


if __name__ == "__main__":
    main()
