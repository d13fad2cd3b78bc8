#!/usr/bin/env python
"""10× scale probe for the incremental-index operators: duplicate the sf0.1
corpus N-fold (ids offset per clone so every document is distinct text-wise —
near-dup density stays realistic, data volume scales) and compare 1× vs N×
wall-clock for the operations whose 100 TB story this repo claims:

- dedup-index build (3 bucketed fingerprint tables)
- incremental classification of a planted batch vs that index
- the O(batch) claim directly: a FIXED-size batch classified against the
  1× index vs the N× index (time must stay ~flat as history grows)
- one full ingest epoch (quality floor → cascade → classification →
  split/pack → per-epoch partition write) at each history scale
- IVF corpus assignment (the only full-corpus ANN pass) + probes against it

Prints a markdown table for SCALING.md. Usage:
    python tools/scale_probe.py [sf_dir] [factor]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
FACTOR = int(sys.argv[2]) if len(sys.argv) > 2 else 10
# executor cores, as in bench.py: set SPARK_GRAFT_CPUS to the host's nproc
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kafka_connector_s3_sink_spark.operators import incremental, similarity

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("scale-probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs1 = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    # N clones, each id-offset AND text-salted with the clone tag so the
    # scaled corpus is n× the data without being n× copies of one document
    # (that degenerate case is what the exact pass removes in one shuffle)
    clones = [
        docs1.select(
            (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" clone{i}")).alias("text"),
        )
        for i in range(FACTOR)
    ]
    docsN = clones[0]
    for c in clones[1:]:
        docsN = docsN.unionByName(c)

    emb1 = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    embN = emb1
    for i in range(1, FACTOR):
        embN = embN.unionByName(
            emb1.select(
                (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
                "embedding",
                *[c for c in emb1.columns if c not in ("vec_id", "embedding")],
            ).select(emb1.columns)
        )

    def batch_of(docs):
        did = F.col("doc_id")
        return (
            docs.filter(did % 10 == 3)
            .select((did + 500_000_000).alias("doc_id"), "text")
            .unionByName(
                docs.filter(did % 10 == 6).select(
                    (did + 600_000_000).alias("doc_id"),
                    F.regexp_replace("text", r"\s+\S+\s*$", "").alias("text"),
                )
            )
        )

    rows = []

    def timed(name, fn, warm=1):
        for _ in range(warm):
            fn()
        t0 = time.time()
        fn()
        rows.append((name, time.time() - t0))
        print(f"  {name}: {rows[-1][1]:.2f}s", flush=True)

    for label, docs, emb in (("1x", docs1, emb1), (f"{FACTOR}x", docsN, embN)):
        print(f"-- {label}: {docs.count()} docs, {emb.count()} vectors", flush=True)
        loc = tempfile.mkdtemp(prefix=f"probe_idx_{label}_")
        prefix = f"probe_{label}"
        t0 = time.time()
        incremental.build_dedup_index(
            docs, prefix, loc, num_buckets=32, database="probedb"
        )
        rows.append((f"index_build_{label}", time.time() - t0))
        print(f"  index_build_{label}: {rows[-1][1]:.2f}s", flush=True)

        batch = batch_of(docs)

        def classify():
            reg: list = []
            incremental.incremental_dedup(
                batch, prefix, database="probedb", unpersist_registry=reg
            ).write.format("noop").mode("overwrite").save()
            for r in reg:
                r.unpersist()

        timed(f"incremental_classify_{label}", classify)

        # the O(batch + collisions) claim, isolated: SAME batch (the 1×
        # planted one) against this scale's index — if classification cost
        # rode |history|, this row would grow ~linearly with the factor
        fixed_batch = batch_of(docs1)

        def classify_fixed():
            reg: list = []
            incremental.incremental_dedup(
                fixed_batch, prefix, database="probedb", unpersist_registry=reg
            ).write.format("noop").mode("overwrite").save()
            for r in reg:
                r.unpersist()

        timed(f"classify_fixed_batch_vs_{label}_index", classify_fixed)

        # one full ingest epoch against this scale's index: fixed batch, so
        # epoch cost must track |batch| (cascade+pack) + |collisions|, not
        # |history|. Fresh dest/ckpt per scale; epoch id unique per scale so
        # the idempotence probe doesn't skip the append.
        from kafka_connector_s3_sink_spark.streaming import ingest as ing

        epoch_dest = tempfile.mkdtemp(prefix=f"probe_ingest_{label}_")
        icfg = ing.IngestConfig(
            index_prefix=prefix,
            index_location=loc,
            dest_dir=epoch_dest,
            checkpoint_location=os.path.join(epoch_dest, "ckpt"),
            database="probedb",
            num_buckets=32,
            min_quality=0.0,
        )
        t0 = time.time()
        ing.process_crawl_batch(fixed_batch, 777, icfg)
        rows.append((f"ingest_epoch_vs_{label}_index", time.time() - t0))
        print(f"  ingest_epoch_vs_{label}_index: {rows[-1][1]:.2f}s", flush=True)

        cents = similarity.ivf_centroids(emb, 8, 1)
        t0 = time.time()
        assigned = similarity.assign_corpus(emb, cents).persist()
        assigned.write.format("noop").mode("overwrite").save()
        rows.append((f"ivf_assign_{label}", time.time() - t0))
        print(f"  ivf_assign_{label}: {rows[-1][1]:.2f}s", flush=True)

        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

        def probe():
            similarity.ivf_topk(
                emb, queries, centroids=cents, assigned_corpus=assigned, nprobe=2
            ).write.format("noop").mode("overwrite").save()

        timed(f"ivf_probe_nprobe2_{label}", probe)
        assigned.unpersist()

        # ---- r7 surface ----
        from kafka_connector_s3_sink_spark.operators import (
            dedup as ddp,
            drift,
            text as textops,
        )

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        # paragraph dedup: exact_dedup's shape at paragraph grain — must
        # scale ~linearly (one hash shuffle), never worse
        timed(
            f"paragraph_stats_{label}",
            lambda: noop(ddp.paragraph_dedup_stats(docs)),
        )
        # hash embeddings: two key-partitioned shuffles — linear
        timed(
            f"hash_embeddings_{label}",
            lambda: noop(textops.hash_embeddings(docs, dim=64)),
        )
        # PQ: fit reads the bounded sample (must stay ~flat); arrow encode
        # scans the corpus once (linear); IVF-PQ probe reads nprobe/k of
        # the codes (linear/k)
        nrm = similarity.normalize_vectors(emb.select("vec_id", "embedding"))
        t0 = time.time()
        books = similarity.pq_codebooks(nrm, m=8, k=16)
        rows.append((f"pq_fit_{label}", time.time() - t0))
        print(f"  pq_fit_{label}: {rows[-1][1]:.2f}s", flush=True)
        timed(
            f"pq_encode_{label}",
            lambda: noop(similarity.pq_encode(nrm, books)),
        )
        timed(
            f"ivfpq_probe_{label}",
            lambda: noop(
                similarity.ivfpq_topk(
                    emb,
                    queries,
                    n_centroids=8,
                    nprobe=2,
                    centroids=cents,
                    codebooks=None,
                    residual=True,
                )
            ),
        )
        # drift vs a persisted baseline: the comparison must be O(batch) —
        # a FIXED batch scored against this scale's baseline stays flat
        bl = tempfile.mkdtemp(prefix=f"probe_drift_{label}_")
        feats = drift.text_drift_features()
        t0 = time.time()
        drift.persist_baseline(docs, bl, feats)
        rows.append((f"drift_baseline_build_{label}", time.time() - t0))
        print(f"  drift_baseline_build_{label}: {rows[-1][1]:.2f}s", flush=True)
        timed(
            f"drift_fixed_batch_vs_{label}_baseline",
            lambda: noop(drift.drift_vs_baseline(fixed_batch, bl, feats)),
        )

    print("\n| op | " + " | ".join(n for n, _ in rows) + " |")
    print("| t(s) | " + " | ".join(f"{t:.1f}" for _, t in rows) + " |")


if __name__ == "__main__":
    main()
