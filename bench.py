#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Queries are materialized with the noop sink (full execution, no driver
collect). The sink-writer benchmark writes real objects to a temp dir.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Hand-written per-round analysis. MUST NOT contain totals or round-over-round
# ratios — those are computed and interpolated by main() from the payloads
# themselves (the r12 note cited a 69.0s total its own medians contradicted).
# Only genuinely hand-measured numbers (fresh-process ABAB arms) belong here.
ROUND_NARRATIVE = (
    "r16 (OPTIMIZATION round 2): entry set IDENTICAL to r9-r15 (43 "
    "entries). The printed line is now the COMPACT contract line only "
    "(the full annotated payload lives in BENCH_LAST.json) - twelve "
    "driver rounds lost the 10KB line to stdout tail truncation. "
    "Entries expected DOWN vs r15 like-for-like (OPTIMIZATION_r16.md): "
    "dedup_embedding_cosine (per-pair dot pre-flattened to codegen'd "
    "scalar columns + SemDeDup blocker fit session-memoized; ABAB base "
    "{6.69,8.13} vs opt {5.16,5.37}, pooled 0.71x), text_corpus_stats' "
    "ppl branch (one tokenize instead of six, persisted tokens frame; "
    "interleaved micro {2.94,2.71,2.59,2.62}->{2.32,2.11,2.02,2.24}), "
    "and the four sink_write entries (writers moved from pickled-Row "
    "rdd.mapPartitions to mapInArrow with C-level group joins; ABAB "
    "csv 0.65x, parquet 0.79x, orc 0.76x, avro flat; bytes verified "
    "identical). pipeline_pack_split changed VALUES by contract this "
    "round: pack_ids is now a space-joined string (driver-gate fix - "
    "pandas canonicalizers cannot sort list cells), same information, "
    "oracle updated in lockstep. ann_topk's r15 32-core riser (12.1s "
    "driver vs 3.3s@8) did NOT reproduce in isolation (probe: warm "
    "3.2-3.8s at local[32], matching the committed canonical 3.6s) - "
    "see OPTIMIZATION_r16.md for the full-bench-context check."
)

# headline set: sink surface + heavy relational + LLM ops
BENCH_QUERIES = [
    "sink_projection_csv",
    "sink_group_topic_partition",
    "sink_group_key_upsert",
    "sink_jsonl_render",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_regional_revenue",
    "q6_forecast_revenue",
    "q4_late_shipment_priority",
    "q2_top_supplier_per_nation",
    "q10_returned_item_revenue",
    "window_running_totals",
    "topk_users",
    "asof_prev_purchase",
    "range_join_events_after_signup",
    "sessionize_events",
    "tumbling_window_counts",
    "sink_schema_rotation",
    "cube_order_stats",
    "semi_join_parts",
    "value_statistics",
    "array_functions",
    "tpch_scalar_aggregates",
    "tpch_order_analytics",
    "tpch_quantified_counts",
    "tpch_segment_rollups",
    "text_analysis",
    "text_corpus_stats",
    "dedup_exact",
    "dedup_candidate_pairs",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_embedding_cosine",
    "incremental_dedup",
    "ann_topk",
    "ann_ivf_topk",
    "multimodal_features",
    "pipeline_pack_split",
]

# Per-branch decomposition of the merged entries (r8, VERDICT r7 item 1):
# each merged entry unions its branches under a literal discriminator column,
# so filtering on one literal value lets Catalyst constant-fold the other
# union children to empty relations and prune them — the filtered noop write
# executes ONLY that branch's plan. The entry DataFrame is constructed once
# OUTSIDE the timed region (plan construction runs eager driver-side work —
# PageRank's per-iteration localCheckpoints, memoized quantizer fits — that
# belongs to no single branch; it is reported separately as branch_build_sec).
# tests/test_registry.py pins these tag values against the live entries so a
# renamed branch can't silently time an empty filter.
BRANCH_TAGS = {
    "sink_group_key_upsert": ("branch", ["upsert", "cdc", "scd2"]),
    "dedup_exact": ("branch", ["doc", "para", "span"]),
    "dedup_candidate_pairs": (
        "method",
        ["jaccard", "lsh", "decontam", "decontam_near"],
    ),
    "pipeline_pack_split": ("branch", ["pack", "mix_pack", "safe_pack", "budget_pack", "assemble", "map_ids", "order"]),
    "dedup_clusters": ("branch", ["text", "media"]),
    "dedup_embedding_cosine": ("method", ["label", "kmeans", "decontam"]),
    "ann_topk": ("method", ["brute", "lsh", "bm25", "pq"]),
    "text_corpus_stats": (
        "branch",
        [
            "top_ngrams",
            "quality_filter",
            "html_extract",
            "url_domains",
            "domain_cap",
            "warc_ingest",
            "quality_clf",
            "link_rank",
            "ppl",
            "drift",
            "dsir",
            "wsample",
            "pr_curve",
        ],
    ),
}


def _session(app_name: str):
    """The bench's Spark session: local[$SPARK_GRAFT_CPUS], AQE on, UTC."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _cold_and_warm(run, release=lambda: None) -> tuple[float, float]:
    """(cold seconds, median of three warm seconds) of ``run()``: one cold
    pass, then three timed warm passes. ``release`` runs after every pass,
    outside the timed region."""
    passes = []
    for _ in range(4):
        t0 = time.time()
        run()
        passes.append(time.time() - t0)
        release()
    return passes[0], sorted(passes[1:])[1]


def check_mode() -> int:
    """``bench.py --check``: re-run the 5 most expensive committed entries
    and warn when a median disagrees >2x with BENCH_LAST.json — the round's
    committed numbers become self-validating instead of trusted (r5 lesson:
    two same-day runs on a shared sandbox disagreed 17% on totals with
    per-query swings to 2.5x; a >2x delta means either a quiet-machine
    violation or a real regression, and both deserve a second look)."""
    import __spark_entry__ as entrymod

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_LAST.json")) as f:
        committed = json.load(f)
    qs = entrymod.queries()
    top = sorted(
        ((t, n) for n, t in committed["queries"].items() if n in qs),
        reverse=True,
    )[:5]
    spark = _session("bench-check")
    disagreements = []

    def compare(label: str, committed_t: float, now: float) -> None:
        ratio = max(now, committed_t) / max(min(now, committed_t), 1e-9)
        flag = "DISAGREES" if ratio > 2.0 else "ok"
        print(
            f"{flag:9s} {label}: committed {committed_t:.2f}s, "
            f"re-measured {now:.2f}s ({ratio:.2f}x)"
        )
        if ratio > 2.0:
            disagreements.append(label)

    for committed_t, name in top:
        run = lambda: qs[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        compare(name, committed_t, _cold_and_warm(run, entrymod.release_caches)[1])
    # also re-validate the top committed BRANCHES of the decomposed entries
    # (r8): the branch numbers are the per-operator regression signal, so
    # they deserve the same self-validation as the entry totals.
    from pyspark.sql import functions as F

    flat = sorted(
        (
            (t, entry, br)
            for entry, brs in committed.get("queries_branches", {}).items()
            if entry in qs and entry in BRANCH_TAGS
            for br, t in brs.items()
        ),
        reverse=True,
    )[:5]
    by_entry: dict[str, list] = {}
    for t, entry, br in flat:
        by_entry.setdefault(entry, []).append((br, t))
    for entry, brs in by_entry.items():
        tag = BRANCH_TAGS[entry][0]
        df = qs[entry](spark, SF_DIR)
        for br, committed_t in brs:
            run = lambda: df.filter(F.col(tag) == br).write.format(
                "noop"
            ).mode("overwrite").save()
            compare(f"{entry}[{br}]", committed_t, _cold_and_warm(run)[1])
        entrymod.release_caches()
    if disagreements:
        print(
            f"WARNING: {len(disagreements)} entries disagree >2x with the "
            f"committed BENCH_LAST.json ({', '.join(disagreements)}) — "
            "re-run the full bench on a quiet machine before trusting it"
        )
        return 1
    print("bench check: committed numbers reproduce within 2x")
    return 0


def main() -> None:
    import __spark_entry__ as entrymod
    from kafka_connector_s3_sink_spark.config import EngineConfig
    from kafka_connector_s3_sink_spark.records import kafka_records_from_events
    from kafka_connector_s3_sink_spark.sinks.writer import write_batch

    spark = _session("kafka-connector-s3-sink-spark-bench")

    # JVM warmup (codegen compile, parquet footer cache) so per-query numbers
    # measure the operators, not first-query session startup
    kafka_records_from_events(spark, SF_DIR).count()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    # Each query runs once cold + three warm: the cold pass pays one-time JVM
    # costs (codegen compile, broadcast build, shuffle-file creation); the
    # headline number is the MEDIAN of the three warm passes, so
    # round-over-round per-query deltas track plan changes, not JVM noise
    # (r4 lesson: single warm samples disagreed with isolated re-measurement
    # by up to 3x on sub-second queries). Any session caches an entry deferred
    # are released after each pass so one entry's blocks never skew the next
    # entry's timing (the r4 pipeline_pack_split regression).
    qs = entrymod.queries()
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}

    def timed(name, run) -> None:
        cold[name], timings[name] = (
            round(t, 3) for t in _cold_and_warm(run, entrymod.release_caches)
        )

    for name in BENCH_QUERIES:
        fn = qs[name]
        timed(
            name,
            lambda fn=fn: fn(spark, SF_DIR)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )

    # per-branch decomposition (r8): the merged entries' headline numbers hide
    # which branch moved round-over-round; time each tagged branch of the
    # decomposed entries separately (same cold + 3-warm-median protocol over
    # the ONE-time-constructed frame — see BRANCH_TAGS comment).
    from pyspark.sql import functions as F

    branches: dict[str, dict[str, float]] = {}
    branch_build: dict[str, float] = {}
    for name, (tag, vals) in BRANCH_TAGS.items():
        tb = time.time()
        df = qs[name](spark, SF_DIR)
        branch_build[name] = round(time.time() - tb, 3)
        branches[name] = {}
        for v in vals:
            run = (
                lambda v=v: df.filter(F.col(tag) == v)
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            # the cold pass pays codegen + first materialization of shared
            # persists; caches are released once per entry, after its branches
            branches[name][v] = round(_cold_and_warm(run)[1], 3)
        entrymod.release_caches()

    # end-to-end sink writes (exact object names) to local objects
    from kafka_connector_s3_sink_spark.config import (
        CompressionType,
        FormatType,
        OutputField,
    )

    records = kafka_records_from_events(spark, SF_DIR)
    envelope_fields = (
        OutputField.KEY,
        OutputField.OFFSET,
        OutputField.TIMESTAMP,
        OutputField.VALUE,
    )
    sink_cases = {
        "sink_write_csv_gzip": EngineConfig(),
        "sink_write_parquet": EngineConfig(
            format_type=FormatType.PARQUET, output_fields=envelope_fields
        ),
        # r8 format-family extensions, same grouped-object path
        "sink_write_avro_zstd": EngineConfig(
            format_type=FormatType.AVRO,
            file_compression=CompressionType.ZSTD,
            output_fields=envelope_fields,
        ),
        "sink_write_orc": EngineConfig(
            format_type=FormatType.ORC, output_fields=envelope_fields
        ),
    }
    for name, cfg in sink_cases.items():
        dest = tempfile.mkdtemp(prefix="bench-sink-")
        try:
            timed(name, lambda cfg=cfg: write_batch(records, cfg, dest))
        finally:
            shutil.rmtree(dest, ignore_errors=True)

    # read-back: re-ingest the full gzip-CSV object set (objects written once,
    # outside the timed loop; the read + JVM parse is what's measured)
    from kafka_connector_s3_sink_spark.sources.objects import read_sink_objects

    rb_cfg = EngineConfig(
        output_fields=tuple(sink_cases["sink_write_parquet"].output_fields),
    )
    rb_dest = tempfile.mkdtemp(prefix="bench-readback-")
    try:
        write_batch(records, rb_cfg, rb_dest)
        timed(
            "source_readback_csv_gzip",
            lambda: read_sink_objects(spark, rb_dest, rb_cfg)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
    finally:
        shutil.rmtree(rb_dest, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json"
    )
    # Round-over-round comparison COMPUTED from the two payloads (VERDICT r12
    # "what's wrong" item 1: the r12 note hand-wrote a 69.0s total its own
    # medians contradicted). The COMMITTED previous BENCH_LAST.json (git
    # show — the right comparison base even after a same-round recon run
    # overwrote the working-tree file) is read BEFORE this run overwrites
    # it; totals are summed over the shared entry set so an entry-set
    # change can never silently skew the ratio.
    rr_note = "No previous BENCH_LAST.json to compare against. "
    try:
        import subprocess

        committed = subprocess.run(
            ["git", "-C", os.path.dirname(out_path), "show",
             "HEAD:BENCH_LAST.json"],
            capture_output=True, text=True,
        )
        if committed.returncode == 0 and committed.stdout.strip():
            prev = json.loads(committed.stdout.splitlines()[0])
        else:
            with open(out_path) as f:
                prev = json.loads(f.readline())
        shared = sorted(set(prev.get("queries", {})) & set(timings))
        prev_total = round(sum(prev["queries"][k] for k in shared), 3)
        this_total = round(sum(timings[k] for k in shared), 3)
        # Per-entry ratio distribution, also computed from the two payloads
        # (VERDICT r13 item 4): a co-loaded box shows up as a UNIFORM
        # median rise across mostly-untouched entries, while a genuine
        # regression is one entry far above the band. Emitting the
        # distribution puts that signature in the artifact itself instead
        # of leaving it to a hand-written narrative.
        ratios = sorted(
            timings[k] / prev["queries"][k]
            for k in shared
            if prev["queries"][k] > 0.05 and timings[k] > 0.05
        )
        med = ratios[len(ratios) // 2] if ratios else float("nan")
        n_up = sum(1 for r in ratios if r > 1.0)
        big = sorted(
            (k for k in shared
             if prev["queries"][k] > 0.05 and timings[k] > 0.05
             and timings[k] / prev["queries"][k] > 1.3),
            key=lambda k: -(timings[k] / prev["queries"][k]),
        )
        dist_note = (
            f"Per-entry ratio distribution (computed): median {med:.2f}x, "
            f"{n_up}/{len(ratios)} entries up, {len(big)} above 1.3x"
            + (
                " ({})".format(", ".join(
                    f"{k} {timings[k] / prev['queries'][k]:.2f}x"
                    for k in big[:6]))
                if big else ""
            )
            + ". A near-1.0x median with few >1.3x outliers means the "
            "total moved with the machine, not the code; a ~uniform "
            ">1.1x median across untouched entries is the co-load "
            "signature. "
        )
        rr_note = (
            f"Round-over-round, computed from the two payloads over their "
            f"{len(shared)} shared entries (not hand-written): this run "
            f"{this_total}s vs previous committed {prev_total}s = "
            f"{this_total / prev_total:.2f}x"
            + (
                ""
                if len(shared) == len(timings) == len(prev.get("queries", {}))
                else f"; entry sets differ ({len(prev.get('queries', {}))} "
                f"prev / {len(timings)} now)"
            )
            + ". "
            + dist_note
        )
    except (OSError, ValueError, KeyError, ZeroDivisionError):
        pass
    result = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "iterations": 4,
        "note": "per-query time is the MEDIAN of 3 warm iterations; queries_cold is "
        "the 1st run (plan build + codegen + broadcast). "
        + rr_note
        + ROUND_NARRATIVE
        + " Reproducibility: medians of two "
        "back-to-back runs on a QUIET machine agree within ~20-40% per "
        "sub-second query and ~15% on totals; a run overlapping another "
        "Spark JVM's shutdown can inflate individual entries several-fold - "
        "compare totals across rounds, per-query only for >2x deltas; "
        "bench.py --check re-runs the top-5 committed entries AND their top "
        "branches and flags >2x disagreement.",
        "queries_cold": cold,
        "cold_total_sec": round(sum(cold.values()), 3),
        "queries_branches": branches,
        "branch_build_sec": branch_build,
        "branch_note": "per-branch times are the same 3-warm-median protocol "
        "over the entry's ONE constructed DataFrame filtered to the branch "
        "tag (Catalyst prunes the other union children); branch_build_sec is "
        "the one-time plan-construction cost (eager driver-side work: "
        "PageRank iterations, memoized fits) that belongs to no branch, so "
        "branch times sum to roughly the entry's execution minus shared "
        "construction. Compare branch-to-branch across rounds to attribute "
        "a merged entry's delta.",
    }
    # The driver tail-captures stdout, and the annotated payload grew to
    # ~10 KB — it fell off the tail for twelve straight rounds (BENCH_r03..r14
    # all `parsed: null`). Persist the FULL annotated payload to
    # BENCH_LAST.json, but PRINT only the compact contract line
    # (metric/value/unit/queries/sf) so the driver can always parse it.
    with open(out_path, "w") as f:
        f.write(json.dumps(result) + "\n")
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "queries": result["queries"],
        "sf": result["sf"],
        "note": "compact line; full annotated payload (cold runs, per-branch "
        "timings, round narrative) in BENCH_LAST.json",
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    if "--check" in sys.argv[1:]:
        sys.exit(check_mode())
    main()
