#!/usr/bin/env python
"""Physical-plan audit over every registered query: counts the markers that
matter at 100 TB — shuffles (Exchange), whole-stage-codegen spans, parquet
pushdown, Python boundaries (Arrow/BatchEval), broadcasts — and writes
PLANS.md with a summary table plus each query's formatted plan.

Usage: python tools/audit_plans.py [sf_dir] [out_md]
Defaults: /root/testdata/sf0.01 PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# executor cores, as in bench.py: set SPARK_GRAFT_CPUS to the host's nproc
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "8")
OUT = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
)

MARKERS = {
    "exchanges": r"\bExchange (?:hash|range|Single)",
    "broadcasts": r"\bBroadcastExchange\b",
    "codegen_spans": r"\*\(\d+\)",
    "python_eval": r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas",
    "sorts": r"\bSort \[",
}

# Exchange/BroadcastExchange nodes print a unique [plan_id=N]; a plan that
# caches intermediates (InMemoryRelation) or reuses exchanges reprints the
# SAME node under every consumer branch, so raw text counts overstate runtime
# shuffles by the fan-out factor. Count DISTINCT plan ids — each is one
# physical shuffle/broadcast build, however many branches read it.
DISTINCT_ID = {
    "exchanges": r"\bExchange (?:hash|range|Single)[^\n]*?plan_id=(\d+)",
    "broadcasts": r"\bBroadcastExchange\b[^\n]*?plan_id=(\d+)",
}


# Hand-maintained per-query analyses rendered after the summary table —
# they survive regeneration because they live HERE, not in the output.
NOTES = {
    "pipeline_pack_split": """\
**Seven branches, one entry (r8→r15).** The 44-static/26-executed counts
are the UNION of seven independent gate branches, each with its own pack
layout chain: pack, mix_pack (3-source upsampled mixture), safe_pack
(MinHash-LSH blocking + CC + cluster-safe split — most of the joins),
budget_pack (precomputed budgets), assemble (window reconstruction:
one packs⋈documents equi-join + one pack-key string_agg), map_ids (r15:
posexplode → broadcast vocab lookup → re-aggregate by position), and
order ×2 epochs (r15: per epoch ONE shard-key window Exchange + an
n_shards-row count aggregate + the single-partition offset window —
bounded by config, not data; the serving module's contract). Per branch
the shuffle count is the operator's documented intrinsic set; the entry
total grows with BRANCH COUNT (a gate-harness artifact), not with data —
the r15 10× serving/window probe (SCALING.md) pins the flat executed
count on the real read path. The r14→r15 jump (18→44 static, 12→26
executed) is exactly the two new branches landing.""",
    "incremental_dedup": """\
**Static-shuffle accounting (r6).** The r5→r6 restructure (n2 as a window
count riding the bucketed shingle clustering instead of a separate
h_sizes aggregate + hist_id join; one `repartition(new_id)` feeding both
verify aggregations by subset-clustering; pair-dedup keyed on new_id) cut
the operator to **6 intrinsic static shuffles**, each provably O(batch) or
O(candidates), never O(index):

1. exact-dup `groupBy(doc_id)` — matched batch rows only;
2. `repartition(new_id)` under the candidate-pair dedup — reused by every
   downstream new_id consumer;
3. candidate-id alignment into the shingle table's 16 buckets (the INDEX
   side never exchanges — `SelectedBucketsCount` in the plan below);
4+5. the shingle-intersection join pair on (hist_id, s1)/(_h2, s2) —
   O(candidate pairs × shingles), the verify step's intrinsic cost;
6. `repartition(new_id)` feeding the (new_id, hist_id) count aggregate AND
   the best-match `min_by` (subset-clustering satisfies the former, key
   equality the latter — one Exchange, two aggregations).

Every REMAINING static Exchange is one side of a sort-merge FALLBACK for an
anti/semi join whose build side is batch-bounded (the exact-dup id list,
the near-dup id list, the candidate id list, the gate harness's variant
arms). AQE converts each to a broadcast at runtime once the small side
materializes — the `executed` column is the proof — and they are
deliberately NOT force-broadcast: those sides scale with EPOCH size, and a
forced broadcast trades AQE's graceful partitioned-join degradation on a
pathological epoch for a driver OOM (the repo's forced-broadcast rule:
hint only fixed-cardinality sides). The 10× scale probe (SCALING.md)
shows classification of a fixed batch stays ~flat as the index grows 10×,
confirming no index-side cost hides in the fallbacks.

**FINAL (r8) — static target retired.** The r4 "<15 static Exchanges" goal
is formally closed as WON'T-TRIM: every remaining static Exchange above
the 6 intrinsic ones is an AQE sort-merge fallback whose only removal is a
forced broadcast of an epoch-scaled side — prohibited by the repo's
broadcast rule because it converts a pathological epoch from a slow
partitioned join into a driver OOM. The operator's held contracts are
therefore the EXECUTED metrics, which the audit re-checks every round:
(a) executed shuffles = the intrinsic set (8 incl. the gate harness's
variant arms at this SF), (b) the index side never exchanges
(`SelectedBucketsCount` on every index scan), and (c) fixed-batch
classification stays flat as the index grows (the 10× probe). A future
regression is a change in THOSE numbers, not in the static count.""",
    "text_corpus_stats": """\
**Eleven branches, one entry (r6→r8).** This query runs the corpus
through eleven independent analyses under one oracle row: top-ngrams,
quality rollup, html_extract, url_domains, domain_cap, **warc_ingest**
(the ENTIRE documents corpus re-ingested from real per-member-gzip WARC
archives — binaryFile scan + Python record/HTTP parse + JVM extraction —
every pass; archives build once per process), **quality_clf** (the
trained logistic model scored over every doc), link_rank (PageRank over
the synthetic link graph), ppl (the interpolated trigram LM — two corpus
aggregations + Zipf-sparse joins), drift (PSI/KL vs a perturbed
snapshot), and **dsir** (r8: hashed-gram importance weights against a
curated-proxy target + Gumbel top-k — two bucket fits that collapse to
≤m rows and broadcast, one doc-keyed aggregation, TakeOrdered). Its
bench time is the sum of eleven workloads — compare per BRANCH via
BENCH_LAST.json's queries_branches, not the entry total. The single
Python boundary is the WARC parse (the documented Arrow-batched escape);
everything downstream of it is JVM expression.""",
    "sink_avro_converter": """\
**Three writer schemas, one decode pass (r6).** v1/v2 exercise schema-id
dispatch + evolution merge; v3 adds the CDC logical-type surface
(decimal/timestamp-micros/date/uuid) — every third event encodes and
decodes through the typed path, oracle-recomputed from events. Encode and
decode are the two Arrow-batched mapInPandas boundaries (the codec is
pure Python by design — no avro jar exists in this container); the typed
struct lands via JVM from_json, so downstream consumers stay in codegen.""",
}


def _shuffle_write_stages(spark) -> dict[int, int]:
    """stageId -> shuffleWriteBytes from the live AppStatusStore. Diffing this
    around an action counts the shuffles that ACTUALLY executed — the ground
    truth the static Exchange count overstates, because AQE converts
    sort-merge fallbacks to broadcast joins from runtime sizes (a small probe
    side is only KNOWN small once its stage materializes)."""
    jvm = spark._jvm
    store = spark._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    doubles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    seq = store.stageList(empty, False, False, doubles, empty)
    return {
        seq.apply(i).stageId(): seq.apply(i).shuffleWriteBytes()
        for i in range(seq.size())
    }


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    details = []
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        counts = {k: len(re.findall(rx, plan)) for k, rx in MARKERS.items()}
        # codegen span ids are repeated per operator; count DISTINCT spans
        counts["codegen_spans"] = len(set(re.findall(r"\*\((\d+)\)", plan)))
        for k, rx in DISTINCT_ID.items():
            distinct = len(set(re.findall(rx, plan)))
            if distinct:  # pre-AQE text may omit plan_ids entirely
                counts[k] = distinct
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-"
        before = _shuffle_write_stages(spark)
        df.collect()
        after = _shuffle_write_stages(spark)
        counts["executed"] = sum(
            1 for sid, b in after.items() if sid not in before and b > 0
        )
        rows.append((name, counts, pushed))
        details.append((name, plan))

    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Generated by `tools/audit_plans.py` at `{SF_DIR}` (AQE on, pre-execution",
        "plans — AQE may further coalesce/split at runtime). Markers per query:",
        "shuffles (`Exchange hash/range`), broadcast builds, distinct",
        "whole-stage-codegen spans, Python boundaries (Arrow/Pandas evals — the",
        "deliberate escapes only), sorts, and whether any parquet scan carries",
        "pushed filters. Shuffle/broadcast counts are DISTINCT `plan_id`s:",
        "plans that cache intermediates (InMemoryRelation) or reuse exchanges",
        "reprint the same node under every consumer branch, and each distinct",
        "id is one physical shuffle regardless of how many branches read it.",
        "",
        "`shuffles` is the STATIC count (pre-execution plan — AQE's conservative",
        "sort-merge fallbacks included); `executed` is the number of stages that",
        "actually wrote shuffle data when the query ran at this SF (AppStatusStore",
        "diff around the action, cache materializations included). The gap between",
        "the two is AQE converting joins whose probe side turned out small into",
        "broadcasts — at larger batches `executed` converges toward `shuffles`,",
        "never past it.",
        "",
        "| query | shuffles | executed | broadcasts | codegen spans | python | sorts | pushdown |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, c, pushed in rows:
        lines.append(
            f"| {name} | {c['exchanges']} | {c['executed']} | {c['broadcasts']} | "
            f"{c['codegen_spans']} | {c['python_eval']} | {c['sorts']} | {pushed} |"
        )
    total_shuffles = sum(c["exchanges"] for _, c, _ in rows)
    total_exec = sum(c["executed"] for _, c, _ in rows)
    total_python = sum(c["python_eval"] for _, c, _ in rows)
    lines += [
        "",
        f"**Totals:** {len(rows)} queries, {total_shuffles} static shuffles "
        f"({total_exec} executed at this SF), "
        f"{total_python} Python boundaries (each one a documented Arrow-batched "
        "escape: partition-local top-k selection, stateful sessionization, "
        "multimodal decode).",
        "",
    ]
    for qname, note in NOTES.items():
        lines += ["", f"## Analysis: {qname}", "", note]
    lines += [
        "",
        "## Formatted plans",
        "",
    ]
    for name, plan in details:
        lines += [f"### {name}", "", "```", plan.rstrip(), "```", ""]
    with open(OUT, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {OUT}: {len(rows)} queries, {total_shuffles} shuffles")


if __name__ == "__main__":
    main()
