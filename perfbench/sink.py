"""The two workloads: one pass writes the whole seeded input once per sink
config through ``write_batch``.

- ``bulk_flush`` (100k records; csv_gzip, the connector default; parquet
  and avro_zstd envelopes): 20 large objects per config (5 topics x 4
  partitions), so per-record work (render, shuffle, encode, compress)
  dominates;
- ``small_objects`` (the same records and formats at file_max_records=1000,
  ~100 objects per config): row-number chunking and per-object work (open,
  temp+rename commit, codec set-up, manifest rows) add to the same encode
  work, so the two workloads separate a per-byte gain from a per-object
  one.

Smaller objects than these (file_max_records=100, ~1,000 objects, or the
``{{key}}`` upsert's 1,501) made the write time swing from run to run by up
to 2x on a 4-core VM with a shared disk: ten seeds gave an interquartile
spread of ~0.28 of the median, over the largest bound a metric may have.

Every pass's manifest of every config is checked against
``expected_manifest``, and the objects of the last pass against the
input's records.
"""

from __future__ import annotations

import dataclasses
import gzip
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.config import (
    CompressionType,
    EngineConfig,
    FormatType,
    OutputField,
)
from kafka_connector_s3_sink_spark.formats.render import record_line_column
from kafka_connector_s3_sink_spark.records import kafka_records_from_events
from kafka_connector_s3_sink_spark.sinks.writer import (
    expected_manifest,
    prepare_with_filenames,
    write_batch,
)
from kafka_connector_s3_sink_spark.sources.objects import read_sink_objects
from perfbench import inputs
from perfbench.curation import curation_layers
from perfbench.stream import stream_layers
from perfbench.trace import (
    SpanFault,
    TracingStorage,
    gzip_batches,
    percentile,
    read_spans,
    stage_metrics,
)

ENVELOPE = (OutputField.KEY, OutputField.OFFSET, OutputField.TIMESTAMP, OutputField.VALUE)
BULK = {
    "csv_gzip": EngineConfig(),  # the connector default: CSV + gzip, value only
    "parquet": EngineConfig(format_type=FormatType.PARQUET, output_fields=ENVELOPE),
    "avro_zstd": EngineConfig(
        format_type=FormatType.AVRO,
        file_compression=CompressionType.ZSTD,
        output_fields=ENVELOPE,
    ),
}
SMALL_OBJECT_RECORDS = 1_000
SMALL = {f"{name}_small": dataclasses.replace(cfg, file_max_records=SMALL_OBJECT_RECORDS)
         for name, cfg in BULK.items()}
CONFIGS = {**BULK, **SMALL}
WARM_PASSES = 2
MIN_PASSES = 3
REFERENCE_ROWS = 200_000
INPUT_REPEATS = 3  # input generation runs this often; setup_s takes the median
BASELINE_CONFIG = "csv_gzip"  # the single-core baseline writes only this one


def bulk_flush(run, t0: float):
    e2e, layers = _sink_workload(run, t0, run.configs or BULK)
    if run.trace:
        layers.update(stream_layers(run))
        one = _single_core_records_per_s(run)
        n_cores = run.payload["input_records"] / statistics.median(
            run.payload["write_s"][BASELINE_CONFIG])
        layers["writer.speedup_1_to_n"] = n_cores / one
        run.payload["single_core_records_per_s"] = one
    return e2e, layers


def small_objects(run, t0: float):
    e2e, layers = _sink_workload(run, t0, run.configs or SMALL)
    if run.trace:
        layers.update(curation_layers(run))
    return e2e, layers


def _sink_workload(run, t0: float, names):
    spark = run.spark
    cfgs = {name: CONFIGS[name] for name in names}
    sf = run.path("input")
    session_s = time.perf_counter() - t0
    gen_s = []
    for _ in range(INPUT_REPEATS):
        t = time.perf_counter()
        n_records = inputs.write_events(sf, run.seed)
        gen_s.append(time.perf_counter() - t)
    records = kafka_records_from_events(spark, sf)
    # warm-up: untimed passes (codegen, JIT, Python worker start-up); after
    # one pass the JIT still speeds up the next two by ~10%
    t = time.perf_counter()
    for i in range(WARM_PASSES):
        for name, cfg in cfgs.items():
            write_batch(records, cfg, run.path(f"warm{i}", name))
        ref = _reference_s(run)
    warm_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(gen_s) + warm_s
    run.payload.update(input_s=gen_s, warm_s=warm_s)

    times = {name: [] for name in cfgs}
    manifests = {name: [] for name in cfgs}
    # per config, per pass: (p50, p90) of the pass's object latencies
    latencies: dict[str, list[tuple[float, float]]] = {name: [] for name in cfgs}
    out_bytes: dict[str, int] = {}
    # reference job times around the passes: pass i runs between ref_s[i]
    # and ref_s[i + 1]
    ref_s = [ref]
    passes = 0
    t_run = time.perf_counter()
    # the traced run needs one untraced pass to compare the traced write with
    min_passes = 1 if run.trace else MIN_PASSES
    while passes < min_passes or (not run.trace and time.perf_counter() - t_run < run.seconds):
        for name, cfg in cfgs.items():
            # a fresh directory per pass: deleting the previous pass's objects
            # here would put the file system's delete work into the next write
            dest = run.path(f"pass{passes}", name)
            os.sync()  # start each write with no dirty pages or journal backlog
            start = time.time()
            t = time.perf_counter()
            manifest = write_batch(records, cfg, dest)
            times[name].append(time.perf_counter() - t)
            run.checks.op(True, f"write {name}")
            manifests[name].append(manifest)
            # object visibility: commit time (mtime) minus the write call
            stats = [os.stat(os.path.join(dest, obj)) for obj, _ in manifest]
            lat = [st.st_mtime - start for st in stats]
            latencies[name].append((percentile(lat, 50), percentile(lat, 90)))
            out_bytes[name] = sum(st.st_size for st in stats)
        ref_s.append(_reference_s(run))
        passes += 1

    # output checks, outside the timed region
    t_checks = time.perf_counter()
    expected = reduce(DataFrame.unionByName, [
        expected_manifest(records, cfg).withColumn("cfg", F.lit(name))
        for name, cfg in cfgs.items()
    ]).collect()  # one job for all configs
    for name in cfgs:
        want = sorted((r[0], r[1]) for r in expected if r[2] == name)
        for i, got in enumerate(manifests[name]):
            run.checks.op(got == want, f"{name} pass {i}: manifest != expected_manifest")
    # a CSV config's objects must hold the records' rendered lines (in key
    # mode, the last record per key); the other configs are read back
    # through read_sink_objects to the input's record multiset
    last = {name: (run.path(f"pass{passes - 1}", name), [o for o, _ in manifests[name][-1]])
            for name in cfgs}
    want_fp: dict[tuple, tuple] = {}  # the input's fingerprint per column list
    for name, cfg in cfgs.items():
        if cfg.format_type is FormatType.CSV:
            run.checks.op(_gzip_lines(*last[name]) == _rendered_lines(records, cfg),
                          f"{name}: object lines != rendered records")
            continue
        back = read_sink_objects(spark, last[name][0], cfg)
        cols = ("topic", "partition") + tuple(f.value for f in cfg.output_fields)
        if cols not in want_fp:
            want_fp[cols] = _fingerprint(records, cols)
        run.checks.op(_fingerprint(back, cols) == want_fp[cols],
                      f"{name}: read-back records != input records")
    digests = {name: _digest(*last[name]) for name in cfgs}
    run.payload["checks_s"] = time.perf_counter() - t_checks
    pass_s = [sum(times[name][i] for name in cfgs) for i in range(passes)]
    # per config the median over passes: a median of pass sums lets one slow
    # write in a pass move the whole pass. Each write is divided by the mean
    # of the reference runs just before and after its pass, which follows
    # the host's speed within a run as well as between runs
    write_per_ref = sum(
        statistics.median(t / ((ref_s[i] + ref_s[i + 1]) / 2) for i, t in enumerate(times[name]))
        for name in cfgs
    )
    e2e = {
        "setup_s": setup_s,
        "sink_vs_reference": len(cfgs) / write_per_ref,
        "output_bytes": sum(out_bytes.values()),
    }
    records_per_s = n_records * len(cfgs) / sum(statistics.median(times[name]) for name in cfgs)
    run.payload.update(
        input_records=n_records, passes=passes, pass_s=pass_s, reference_s=ref_s,
        sink_records_per_s=records_per_s,
        write_s=times, objects_per_pass={k: len(v[-1]) for k, v in manifests.items()},
        sha256=digests,
    )
    # per config the median over passes, then averaged over configs with
    # equal weight: pooled, the config with the most objects would drown the
    # others. A batch's objects all land within its write call, so these
    # follow the write time; they are per-layer, not end-to-end, metrics
    layers: dict[str, float] = {
        "writer.records_per_s": records_per_s,
        "reference.job_s": statistics.median(ref_s),
        "writer.latency_p50_s": statistics.mean(
            statistics.median(p50 for p50, _ in v) for v in latencies.values()),
        "writer.latency_p90_s": statistics.mean(
            statistics.median(p90 for _, p90 in v) for v in latencies.values()),
    }
    for name in cfgs:
        layers[f"writer.output_bytes.{name}"] = out_bytes[name]
        layers[f"writer.manifest_rows.{name}"] = len(manifests[name][-1])
    if run.trace:
        overhead = 0.0
        for name, cfg in cfgs.items():
            layers.update(_traced_write(run, records, name, cfg))
            overhead += layers[f"writer.write_s.{name}"] - statistics.median(times[name])
        layers["trace.overhead_s"] = overhead
    return e2e, layers


def _reference_s(run) -> float:
    """Wall time of a fixed Spark job that uses no library code but has the
    shape of a CSV write: ``REFERENCE_ROWS`` rendered lines, hash-shuffled
    into 20 groups, sorted, passed to Python as Arrow batches and gzipped."""
    lines = run.spark.range(0, REFERENCE_ROWS, 1, run.cores).select(
        (F.col("id") % 20).alias("g"),
        F.format_string("%d,%s,%d", F.col("id"),
                        F.substring(F.sha1(F.col("id").cast("string")), 1, 16),
                        F.col("id") % 977).alias("line"),
    )
    t = time.perf_counter()
    (lines.repartition(run.cores, "g").sortWithinPartitions("g", "line")
     .mapInArrow(gzip_batches, "n long").agg(F.sum("n")).collect())
    return time.perf_counter() - t


def _traced_write(run, records, name: str, cfg) -> dict[str, float]:
    """Cumulative prefixes of one write, each materialized with noop, then the
    full write with per-object spans and the write's stage counters."""
    spark = run.spark

    def noop(df, step: str) -> float:
        run.job_group(f"{step}.{name}")
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    prepared = prepare_with_filenames(records, cfg)
    if cfg.format_type in (FormatType.PARQUET, FormatType.AVRO, FormatType.ORC):
        payload = [F.col(f.value) for f in cfg.output_fields]
    else:
        payload = [record_line_column(cfg, prepared.schema).alias("_line")]
    rendered = prepared.select("_file", *payload, F.col("offset").alias("_ord"))
    distributed = rendered.repartition("_file").sortWithinPartitions("_file", "_ord")
    out = {
        f"writer.prepare_s.{name}": noop(prepared, "prepare"),
        f"writer.render_s.{name}": noop(rendered, "render"),
        f"writer.distribute_s.{name}": noop(distributed, "distribute"),
    }
    dest = run.path("traced", name)
    span_dir = run.path("spans", name)
    run.job_group(f"write.{name}")
    t = time.perf_counter()
    manifest = write_batch(
        records, cfg, dest,
        storage=TracingStorage(dest, span_dir, name), fault=SpanFault(),
    )
    out[f"writer.write_s.{name}"] = time.perf_counter() - t
    spark.sparkContext.setJobGroup(None, None)
    spans = read_spans(span_dir)
    run.checks.op(len(spans) == len(manifest), f"{name}: spans != manifest rows")
    out[f"writer.encode_s.{name}"] = sum(s["encode_s"] for s in spans)
    out[f"storage.open_s.{name}"] = sum(s["open_s"] for s in spans)
    out[f"storage.commit_s.{name}"] = sum(s["commit_s"] for s in spans)
    out[f"storage.objects.{name}"] = len(spans)
    for k, v in stage_metrics(spark, f"write.{name}").items():
        prefix = "writer" if k in ("write_tasks", "task_skew") else "spark"
        out[f"{prefix}.{k}.{name}"] = v
    return out


def _single_core_records_per_s(run) -> float:
    """``BASELINE_CONFIG`` under local[1] in a second process, same seed and
    input, ``MIN_PASSES`` passes."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__).replace("sink.py", "run.py"),
         "--workload", "bulk_flush", "--seed", str(run.seed), "--seconds", "0",
         "--trace", "0", "--cores", "1", "--configs", BASELINE_CONFIG],
        capture_output=True, text=True, timeout=170,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    run.checks.op(proc.returncode == 0 and result["correct"], "local[1] baseline run")
    return json.loads(lines[-2].removeprefix("payload: "))["sink_records_per_s"]


def _fingerprint(df, cols) -> tuple:
    """Multiset fingerprint of ``cols``: the row count and the sums of two
    64-bit hashes of each string-cast row."""
    row = [F.col(c).cast("string") for c in cols]
    return tuple(df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*row).cast("decimal(38,0)")),
        F.sum(F.hash(*row).cast("decimal(38,0)")),
    ).first())


def _rendered_lines(records, cfg) -> list[bytes]:
    prepared = prepare_with_filenames(records, cfg)
    rows = prepared.select(record_line_column(cfg, prepared.schema)).collect()
    return sorted(r[0].encode() for r in rows)


def _gzip_lines(dest: str, names: list[str]) -> list[bytes]:
    lines: list[bytes] = []
    for name in names:
        with gzip.open(os.path.join(dest, name)) as f:
            lines += f.read().splitlines()
    return sorted(lines)


def _digest(dest: str, names: list[str]) -> str:
    h = hashlib.sha256()
    for name in sorted(names):
        h.update(name.encode() + b"\0")
        with open(os.path.join(dest, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()

