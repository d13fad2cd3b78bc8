#!/usr/bin/env python
"""r16 probe: bisect ann_topk's 32-core pathology (driver r15 data:
12.1s warm median at local[32] vs 3.3s at local[8], warm SLOWER than cold).

Runs the full entry + leave-one-branch-out variants + each branch alone,
1 cold + 3 warm noop passes each, in ONE session. Env:
  PROBE_CPUS (default 32), SPARK_GRAFT_SF_DIR (default sf0.1)
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("PROBE_CPUS", "32")


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("probe-r16-ann")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()

    qs = entrymod.queries()
    fn = qs["ann_topk"]
    results = {}

    def timed(name, build):
        sc = spark.sparkContext
        sc.setJobDescription(f"probe:{name}:cold")
        t0 = time.time()
        build().write.format("noop").mode("overwrite").save()
        cold = time.time() - t0
        entrymod.release_caches()
        warm = []
        for i in range(3):
            sc.setJobDescription(f"probe:{name}:warm{i}")
            t1 = time.time()
            build().write.format("noop").mode("overwrite").save()
            warm.append(time.time() - t1)
            entrymod.release_caches()
        results[name] = {
            "cold": round(cold, 2),
            "warm": [round(w, 2) for w in warm],
        }
        print(name, results[name], flush=True)

    branches = ["brute", "lsh", "bm25", "pq"]
    # full entry, reconstructed per pass (the bench entry protocol)
    timed("full_reconstruct", lambda: fn(spark, SF_DIR))
    # full entry, constructed once (the bench branch protocol's frame)
    df_once = fn(spark, SF_DIR)
    timed("full_frame_once", lambda: df_once)
    # leave-one-out
    for b in branches:
        timed(f"without_{b}", lambda b=b: fn(spark, SF_DIR).filter(F.col("method") != b))
    # each alone
    for b in branches:
        timed(f"only_{b}", lambda b=b: fn(spark, SF_DIR).filter(F.col("method") == b))
    print(json.dumps({"cpus": CPUS, "results": results}))


if __name__ == "__main__":
    main()
