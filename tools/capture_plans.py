#!/usr/bin/env python
"""Capture `.explain('formatted')` for every registered query into
plans/<round>/<query>_<tag>.txt — an optimization round's before/after
evidence (plan claims are checked against these files).

Usage: python tools/capture_plans.py <round> <tag> [query ...]
  round: output directory under plans/, e.g. 'r16';
  tag: 'before' or 'after'; with no query names, captures all 50.

Bench-equivalent session config (local[$SPARK_GRAFT_CPUS], AQE on) so the
captured plan is the one the bench executes, not the audit tool's local[8].
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    rnd, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        rnd,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(f"plan-capture-{rnd}")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name, fn in qs.items():
        if names and name not in names:
            continue
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
        entrymod.release_caches()


if __name__ == "__main__":
    main()
