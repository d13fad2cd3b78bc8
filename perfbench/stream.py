"""The streaming layer: ``start_pipeline`` over a parquet file source (the
Kafka source jar is not installed), in two phases. The ``bulk_flush``
traced run calls ``stream_layers`` after its sink passes.

- drain (closed loop): a fixed backlog of ``DRAIN_FILES`` files, one file per
  trigger, processed back to back. Records per busy second measure the
  capacity of the foreachBatch path. ``WARM_FILES`` more files of the same
  size, older than the backlog, go first; their batches count in set-up,
  not in the drain (the first two batches run ~2x slower while the JIT
  warms).
- steady (open loop): a generator thread writes one atomically renamed file
  every ``PERIOD_S`` at a fixed ``RATE`` records/s, stamping each record's
  Kafka ``timestamp`` with the time the file was due. The query triggers
  every ``FLUSH_MS``. Latency per object is its commit time (mtime) minus
  the stamp of the newest record it holds; generator lateness counts in it.

Per-batch fixed cost dominates here, not per-record cost, which makes these
figures swing with the host's speed: ten seeds gave an interquartile spread
of ~0.3 of the median for the drain rate and the latencies, against ~0.1
for the batch flushes. They are per-layer metrics for that reason.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.config import EngineConfig, OutputField
from kafka_connector_s3_sink_spark.records import (
    KAFKA_RECORD_SCHEMA,
    kafka_records_from_events,
)
from kafka_connector_s3_sink_spark.sources.objects import read_sink_objects
from kafka_connector_s3_sink_spark.streaming import start_pipeline
from perfbench import inputs
from perfbench.trace import percentile

# StreamingQueryProgress.durationMs keys reported per batch
TRIGGER_KEYS = (
    "triggerExecution", "addBatch", "getBatch", "queryPlanning",
    "walCommit", "latestOffset", "commitOffsets",
)
FIELDS = (OutputField.KEY, OutputField.VALUE, OutputField.OFFSET, OutputField.TIMESTAMP)
DRAIN_FILES = 6
DRAIN_FILE_RECORDS = 15_000
RATE = 5_000  # records/s offered in the steady phase
# not a divisor of the trigger interval, so file arrivals sweep through every
# phase of the trigger cycle instead of locking to one for the whole run
PERIOD_S = 0.23
FLUSH_MS = 1_000
WARM_FILES = 2


def stream_layers(run) -> dict[str, float]:
    spark = run.spark
    sf = run.path("stream-input")
    warm_n = WARM_FILES * DRAIN_FILE_RECORDS
    drain_n = DRAIN_FILES * DRAIN_FILE_RECORDS
    need = warm_n + drain_n + int(RATE * run.seconds)
    inputs.write_events(sf, run.seed, clones=-(-need // inputs.BASE_EVENTS))
    table = (
        kafka_records_from_events(spark, sf)
        .filter(F.col("offset") < need)
        .orderBy("offset")
        .toArrow()
    )
    src = run.path("src-drain")
    for i in range(WARM_FILES + DRAIN_FILES):
        name = os.path.join(src, f"part-{i:05d}.parquet")
        _write_file(name, table.slice(i * DRAIN_FILE_RECORDS, DRAIN_FILE_RECORDS))
        if i < WARM_FILES:  # older than the backlog: the source hands them out first
            os.utime(name, (time.time() - 60 + i,) * 2)
    steady = table.slice(warm_n + drain_n)
    os.sync()  # the backlog files are on disk, not dirty

    dest = run.path("stream-sink")
    backlog = _drain(run, dest)
    run.checks.op(sum(p["numInputRows"] for p in backlog) == drain_n,
                  "drain batches != the backlog")
    # the median batch: one slow batch (a GC pause, a late JIT compile) does
    # not move it
    drain_s = DRAIN_FILES * np.median(
        [p["durationMs"]["triggerExecution"] for p in backlog]) / 1000.0
    steady_q, gen = _steady(run, steady, dest)

    # checks: every offset of all phases committed exactly once
    back = read_sink_objects(spark, dest, _config(run, "drain"))
    n = warm_n + drain_n + gen.records
    got = tuple(back.agg(
        F.count("offset"), F.countDistinct("offset"), F.min("offset"), F.max("offset")
    ).first())
    want = (n, n, 0, n - 1)
    run.checks.op(got == want, f"offsets (count, distinct, min, max) {got} != {want}")
    lat, drain_bytes = [], 0
    for obj, first, newest in (
        back.groupBy("object_name").agg(F.min("offset"), F.max("timestamp")).collect()
    ):
        st = os.stat(os.path.join(dest, obj))
        if first >= warm_n + drain_n:  # objects of the steady phase
            lat.append(st.st_mtime - newest / 1000.0)
        elif first >= warm_n:  # objects of the drain
            drain_bytes += st.st_size

    progress = [p for p in steady_q if p["numInputRows"] > 0]
    run.payload["stream"] = dict(
        drain_records=drain_n, drain_s=drain_s, steady_records=gen.records,
        offered_rate=RATE, flush_interval_ms=FLUSH_MS, latency_samples=len(lat),
        drain_batch_ms=[p["durationMs"]["triggerExecution"] for p in backlog],
        steady_batches=[(p["numInputRows"], p["durationMs"]["triggerExecution"]) for p in progress],
    )
    return {
        "stream.drain_records_per_s": drain_n / drain_s,
        "stream.latency_p50_s": percentile(lat, 50),
        "stream.latency_p90_s": percentile(lat, 90),
        # the drain's batches are fixed (one backlog file each), so are its objects
        "stream.output_bytes": drain_bytes,
        **{f"stream.trigger_ms.{k}": float(np.median([p["durationMs"].get(k, 0) for p in progress]))
           for k in TRIGGER_KEYS},
        "stream.batches": len(progress),
        "stream.batch_records_p50": float(np.median([p["numInputRows"] for p in progress])),
        "stream.backlog_records_end": gen.backlog_end,
        "gen.late_s_max": gen.late_max,
    }


def _config(run, phase: str, flush_ms: int = 0) -> EngineConfig:
    return EngineConfig(
        output_fields=FIELDS,
        flush_interval_ms=flush_ms,
        checkpoint_location=run.path("checkpoint", phase),
    )


def _source(run, phase: str, max_files: int | None):
    reader = run.spark.readStream.schema(KAFKA_RECORD_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(run.path(f"src-{phase}"))


def _write_file(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _drain(run, dest: str):
    """Closed loop: run the files in ``src-drain`` one per trigger until all
    are committed. Returns the progress of the backlog batches, whose
    ``triggerExecution`` leaves out query start-up."""
    q = start_pipeline(_source(run, "drain", 1), _config(run, "drain"), dest,
                       query_name="perfbench-drain")
    try:
        q.processAllAvailable()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    for p in progress:
        run.checks.op(True, f"drain batch {p['batchId']}")
    return progress[WARM_FILES:]


class _Generator(threading.Thread):
    """Writes ``steady`` records as one file per period at a fixed rate. The
    schedule does not slow when the query does; lateness is recorded."""

    def __init__(self, src: str, table: pa.Table, seconds: float):
        super().__init__(daemon=True)
        self.src, self.table, self.seconds = src, table, seconds
        self.records = 0
        self.late_max = 0.0
        self.backlog_end = 0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            per_file = int(RATE * PERIOD_S)
            start = time.time()
            i = 0
            while (i + 1) * PERIOD_S <= self.seconds and self.records + per_file <= self.table.num_rows:
                due = start + (i + 1) * PERIOD_S
                time.sleep(max(0.0, due - time.time()))
                chunk = self.table.slice(self.records, per_file)
                stamp = pa.array(np.full(per_file, int(due * 1000), dtype=np.int64))
                chunk = chunk.set_column(chunk.schema.get_field_index("timestamp"), "timestamp", stamp)
                tmp = os.path.join(self.src, f".part-{i:05d}.tmp")
                pq.write_table(chunk, tmp)
                os.rename(tmp, os.path.join(self.src, f"part-{i:05d}.parquet"))
                self.late_max = max(self.late_max, time.time() - due)
                self.records += per_file
                i += 1
        except BaseException as e:  # re-raised by the driver thread after join
            self.error = e


def _steady(run, table: pa.Table, dest: str):
    """Open loop for ``run.seconds``; returns (progress, generator)."""
    src = run.path("src-steady")
    os.makedirs(src)
    q = start_pipeline(_source(run, "steady", None), _config(run, "steady", FLUSH_MS),
                       dest, query_name="perfbench-steady")
    gen = _Generator(src, table, run.seconds)
    try:
        gen.start()
        gen.join()
        if gen.error is not None:
            raise gen.error
        done = sum(p["numInputRows"] for p in q.recentProgress)
        gen.backlog_end = gen.records - done
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
    for p in progress:
        if p["numInputRows"] > 0:
            run.checks.op(True, f"steady batch {p['batchId']}")
    return progress, gen

