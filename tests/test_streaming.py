"""End-to-end Structured Streaming test: canonical records streamed from a
file source through start_pipeline → exactly-named compressed objects, with
checkpointed (idempotent) delivery across restarts."""

import os
import time

import pytest
from pyspark.sql import Row

from kafka_connector_s3_sink_spark.config import CompressionType, EngineConfig, FieldEncoding
from kafka_connector_s3_sink_spark.formats.compression import read_compressed
from kafka_connector_s3_sink_spark.records import KAFKA_RECORD_SCHEMA
from kafka_connector_s3_sink_spark.streaming import start_pipeline


def wait_for(pred, timeout_s=30):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(0.5)
    return False


def test_stream_to_objects(spark, tmp_path):
    src = tmp_path / "src"
    dest = tmp_path / "dest"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    dest.mkdir()

    rows = [
        Row(topic="stream-topic", partition=p, offset=p * 1000 + i, key=f"k{i}",
            value=f"v-{p}-{i}", timestamp=1000 + i, headers=None)
        for p in (0, 1) for i in range(5)
    ]
    spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA).coalesce(1).write.parquet(
        str(src / "batch0")
    )

    cfg = EngineConfig(
        value_encoding=FieldEncoding.NONE,
        file_compression=CompressionType.GZIP,
        checkpoint_location=str(ckpt),
        flush_interval_ms=500,
    )
    stream = (
        spark.readStream.schema(KAFKA_RECORD_SCHEMA).parquet(str(src / "*"))
    )
    query = start_pipeline(stream, cfg, str(dest))
    try:
        assert wait_for(
            lambda: os.path.exists(dest / "stream-topic-0-0.gz")
            and os.path.exists(dest / "stream-topic-1-1000.gz")
        ), f"objects not written; dest has {os.listdir(dest)}"
    finally:
        query.stop()

    data = read_compressed(str(dest / "stream-topic-0-0.gz"), CompressionType.GZIP)
    assert data.decode().splitlines() == [f"v-0-{i}" for i in range(5)]
    data = read_compressed(str(dest / "stream-topic-1-1000.gz"), CompressionType.GZIP)
    assert data.decode().splitlines() == [f"v-1-{i}" for i in range(5)]


def test_stream_restart_is_idempotent(spark, tmp_path):
    """Restarting from the checkpoint does not duplicate or corrupt objects —
    the reference's at-least-once + idempotent-name contract (README.md:101-133)."""
    src = tmp_path / "src"
    dest = tmp_path / "dest"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    dest.mkdir()

    def emit(batch, n):
        rows = [
            Row(topic="t", partition=0, offset=batch * 100 + i, key=None,
                value=f"b{batch}-r{i}", timestamp=None, headers=None)
            for i in range(n)
        ]
        spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA).coalesce(1).write.parquet(
            str(src / f"batch{batch}")
        )

    cfg = EngineConfig(
        value_encoding=FieldEncoding.NONE,
        file_compression=CompressionType.NONE,
        checkpoint_location=str(ckpt),
        flush_interval_ms=500,
    )

    emit(0, 3)
    stream = spark.readStream.schema(KAFKA_RECORD_SCHEMA).parquet(str(src / "*"))
    q1 = start_pipeline(stream, cfg, str(dest))
    try:
        assert wait_for(lambda: os.path.exists(dest / "t-0-0"))
    finally:
        q1.stop()

    # second run with more data, same checkpoint: batch 0's object is not
    # re-duplicated; the new batch lands in its own offset-named object
    emit(1, 2)
    stream2 = spark.readStream.schema(KAFKA_RECORD_SCHEMA).parquet(str(src / "*"))
    q2 = start_pipeline(stream2, cfg, str(dest))
    try:
        assert wait_for(lambda: os.path.exists(dest / "t-0-100"))
    finally:
        q2.stop()

    with open(dest / "t-0-0") as f:
        assert f.read().splitlines() == ["b0-r0", "b0-r1", "b0-r2"]
    with open(dest / "t-0-100") as f:
        assert f.read().splitlines() == ["b1-r0", "b1-r1"]


def test_mid_epoch_crash_then_restart_converges(spark, tmp_path, tmp_path_factory):
    """Crash-path delivery semantics: an epoch that dies mid-write (after some
    objects committed, one aborted) leaves NO partial object, and restarting
    from the checkpoint converges to exactly the object set and bytes of a
    crash-free run (README.md:101-133 idempotent overwrite; abort parity with
    S3OutputStream.java:101-132)."""
    src = tmp_path / "src"
    dest = tmp_path / "dest"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    dest.mkdir()

    rows = [
        Row(topic="cr", partition=p, offset=p * 100 + i, key=None,
            value=f"p{p}-r{i}", timestamp=None, headers=None)
        for p in (0, 1) for i in range(3)
    ]
    spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA).coalesce(1).write.parquet(
        str(src / "batch0")
    )

    cfg = EngineConfig(
        value_encoding=FieldEncoding.NONE,
        file_compression=CompressionType.NONE,
        checkpoint_location=str(ckpt),
        flush_interval_ms=300,
    )

    def fail_on(name):
        def fault(object_name):
            if object_name == name:
                raise RuntimeError(f"injected crash on {object_name}")
        return fault

    # attempt 1: the task writing cr-1-100 dies just before commit → the
    # epoch fails, the query terminates with the error
    stream = spark.readStream.schema(KAFKA_RECORD_SCHEMA).parquet(str(src / "*"))
    q1 = start_pipeline(stream, cfg, str(dest), fault=fail_on("cr-1-100"))
    assert wait_for(lambda: q1.exception() is not None, timeout_s=60), (
        "query did not fail on the injected fault"
    )
    q1.stop()
    # no partial/aborted object under the failing name, no temp litter
    assert not any("cr-1-100" in n for n in os.listdir(dest)), os.listdir(dest)
    assert not any(".inprogress-" in n for n in os.listdir(dest)), os.listdir(dest)

    # attempt 2: restart from the same checkpoint without the fault — the
    # epoch replays and rewrites its full object set idempotently
    stream2 = spark.readStream.schema(KAFKA_RECORD_SCHEMA).parquet(str(src / "*"))
    q2 = start_pipeline(stream2, cfg, str(dest))
    try:
        assert wait_for(
            lambda: os.path.exists(dest / "cr-0-0") and os.path.exists(dest / "cr-1-100")
        ), f"restart did not converge; dest has {os.listdir(dest)}"
    finally:
        q2.stop()

    # crash-free reference run: object set and bytes must match exactly
    clean = tmp_path_factory.mktemp("clean-dest")
    ckpt2 = tmp_path_factory.mktemp("clean-ckpt")
    cfg_clean = EngineConfig(
        value_encoding=FieldEncoding.NONE,
        file_compression=CompressionType.NONE,
        checkpoint_location=str(ckpt2),
        flush_interval_ms=300,
    )
    stream3 = spark.readStream.schema(KAFKA_RECORD_SCHEMA).parquet(str(src / "*"))
    q3 = start_pipeline(stream3, cfg_clean, str(clean))
    try:
        assert wait_for(
            lambda: os.path.exists(clean / "cr-0-0") and os.path.exists(clean / "cr-1-100")
        )
    finally:
        q3.stop()
    assert sorted(os.listdir(dest)) == sorted(os.listdir(clean))
    for name in os.listdir(clean):
        assert (dest / name).read_bytes() == (clean / name).read_bytes(), name


def test_backpressure_bounds_batch_size(spark, tmp_path):
    """maxFilesPerTrigger (≙ maxOffsetsPerTrigger on a Kafka source) bounds
    each micro-batch: three source files → at least three batches, each
    writing its own offset-named object (no mega-batch)."""
    src = tmp_path / "src"
    dest = tmp_path / "dest"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    dest.mkdir()
    for b in range(3):
        rows = [
            Row(topic="bp", partition=0, offset=b * 10 + i, key=None,
                value=f"b{b}-r{i}", timestamp=None, headers=None)
            for i in range(2)
        ]
        spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA).coalesce(1).write.parquet(
            str(src / f"batch{b}")
        )

    cfg = EngineConfig(
        value_encoding=FieldEncoding.NONE,
        file_compression=CompressionType.NONE,
        checkpoint_location=str(ckpt),
        flush_interval_ms=300,
    )
    stream = (
        spark.readStream.schema(KAFKA_RECORD_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    query = start_pipeline(stream, cfg, str(dest))
    try:
        assert wait_for(
            lambda: all(
                os.path.exists(dest / f"bp-0-{b * 10}") for b in range(3)
            )
        ), f"objects missing; dest has {os.listdir(dest)}"

        # the progress entry for a batch posts AFTER foreachBatch writes its
        # objects, so retry rather than reading recentProgress once (was flaky
        # under full-suite CPU load)
        def n_batches():
            return len([p for p in query.recentProgress if p["numInputRows"] > 0])

        assert wait_for(lambda: n_batches() >= 3), (
            f"expected >=3 bounded batches, saw {n_batches()}"
        )
    finally:
        query.stop()
