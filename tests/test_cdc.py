"""CDC envelope surface (`streaming/cdc.py`): Debezium-shaped envelopes —
decoded by the engine's own Avro codec with r6 logical types — unwrap to
flat change rows and snapshot to current state with deletes removed."""

import datetime as dt
import decimal
import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.formats import avro
from kafka_connector_s3_sink_spark.streaming.cdc import (
    cdc_snapshot,
    unwrap_cdc_envelope,
)

ROW_SCHEMA = {
    "type": "record", "name": "row", "fields": [
        {"name": "id", "type": "long"},
        {"name": "amount",
         "type": {"type": "bytes", "logicalType": "decimal",
                  "precision": 10, "scale": 2}},
        {"name": "updated_at",
         "type": {"type": "long", "logicalType": "timestamp-micros"}},
    ],
}
ENVELOPE_SCHEMA = json.dumps({
    "type": "record", "name": "envelope", "fields": [
        {"name": "before", "type": ["null", ROW_SCHEMA]},
        {"name": "after", "type": ["null", "row"]},
        {"name": "op", "type": "string"},
        {"name": "ts_ms", "type": "long"},
        {"name": "source", "type": {
            "type": "record", "name": "src", "fields": [
                {"name": "table", "type": "string"},
                {"name": "lsn", "type": "long"},
            ]}},
    ],
})


def _event(op, rid, amount, ts_us, ts_ms, before=None):
    img = None if amount is None else {
        "id": rid,
        "amount": decimal.Decimal(amount),
        "updated_at": dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
        + dt.timedelta(microseconds=ts_us),
    }
    return {
        "before": before,
        "after": None if op == "d" else img,
        "op": op,
        "ts_ms": ts_ms,
        "source": {"table": "accounts", "lsn": ts_ms * 10},
    }


@pytest.fixture(scope="module")
def changes(spark):
    schema = avro.parse_schema(ENVELOPE_SCHEMA)
    img1 = {"id": 1, "amount": decimal.Decimal("10.00"),
            "updated_at": dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)}
    events = [
        _event("c", 1, "10.00", 0, 1000),
        _event("u", 1, "15.50", 1, 1001),
        _event("c", 2, "7.25", 2, 1002),
        # delete carries only the before image
        {"before": img1, "after": None, "op": "d", "ts_ms": 1003,
         "source": {"table": "accounts", "lsn": 10030}},
        _event("r", 3, "99.99", 3, 999),  # snapshot read
    ]
    payloads = [Row(value=avro.encode(e, schema, confluent_schema_id=7))
                for e in events]
    df = spark.createDataFrame(payloads, "value binary")
    decoded = avro.decode_avro_column(
        df, "value", {7: ENVELOPE_SCHEMA}, confluent_framing=True
    )
    return unwrap_cdc_envelope(
        decoded.drop("value"), source_fields=("table", "lsn")
    )


def test_unwrap_flattens_images_and_ops(changes):
    rows = {(r["id"], r["op"]): r for r in changes.collect()}
    assert len(rows) == 5
    cre = rows[(1, "c")]
    assert cre["amount"] == decimal.Decimal("10.00") and not cre["deleted"]
    assert cre["source_table"] == "accounts" and cre["source_lsn"] == 10000
    # typed logical decode survived the envelope: proper datetime
    assert cre["updated_at"] == dt.datetime(2024, 3, 1)
    # the delete surfaces its BEFORE image
    dele = rows[(1, "d")]
    assert dele["deleted"] and dele["amount"] == decimal.Decimal("10.00")
    assert rows[(3, "r")]["op"] == "r"


def test_snapshot_latest_wins_and_deletes_vanish(changes):
    snap = {r["id"]: r for r in
            cdc_snapshot(changes, ["id"], ["cdc_ts_ms"]).collect()}
    # id 1: create -> update -> delete => gone
    assert 1 not in snap
    assert snap[2]["amount"] == decimal.Decimal("7.25")
    assert snap[3]["amount"] == decimal.Decimal("99.99")
    assert "deleted" not in snap[2].asDict()


def test_snapshot_is_one_hash_aggregation(changes):
    plan = (
        cdc_snapshot(changes, ["id"])._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "max_by" in plan and "Window" not in plan


def test_null_envelope_rows_survive(spark):
    """Converter dead letters (null decoded struct) keep their row — null
    image, null op — instead of being silently dropped."""
    schema = avro.parse_schema(ENVELOPE_SCHEMA)
    ok = avro.encode(_event("c", 9, "1.00", 0, 1), schema,
                     confluent_schema_id=7)
    df = spark.createDataFrame(
        [Row(value=ok), Row(value=b"\x00\x00\x00\x00\x07garbage")],
        "value binary",
    )
    decoded = avro.decode_avro_column(
        df, "value", {7: ENVELOPE_SCHEMA}, confluent_framing=True,
        on_error="capture",
    )
    out = unwrap_cdc_envelope(decoded.drop("value")).collect()
    assert len(out) == 2
    dead = [r for r in out if r["op"] is None]
    assert len(dead) == 1 and dead[0]["id"] is None
    assert dead[0]["decode_error"] is not None


def test_cdc_streaming_snapshot_per_epoch(spark, tmp_path):
    """Changelog stream → foreachBatch cdc_snapshot with per-epoch overwrite:
    epoch 1 materializes creates, epoch 2's updates+deletes roll the state
    forward under the running snapshot (read-modify-write per epoch, the
    same idempotent-overwrite shape as the ingest pipeline)."""
    import json as _json

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")

    def emit(events):
        spark.createDataFrame(
            [Row(v=_json.dumps(e)) for e in events], "v string"
        ).coalesce(1).write.mode("append").parquet(str(src))

    emit([
        {"id": 1, "amount": "10.00", "op": "c", "ts": 1},
        {"id": 2, "amount": "7.25", "op": "c", "ts": 2},
    ])

    def apply_epoch(batch_df, batch_id):
        changes = batch_df.select(
            F.from_json("v", "id long, amount string, op string, ts long").alias("e")
        ).select(
            F.col("e.id").alias("id"),
            F.col("e.amount").alias("amount"),
            F.col("e.op").alias("op"),
            (F.col("e.op") == "d").alias("deleted"),
            F.col("e.ts").alias("cdc_ts_ms"),
        )
        s = batch_df.sparkSession
        try:
            prior = s.read.parquet(state).withColumn(
                "deleted", F.lit(False)
            ).withColumn("op", F.lit("r"))
        except Exception:
            prior = changes.limit(0)
        snap = cdc_snapshot(
            prior.unionByName(changes, allowMissingColumns=True),
            ["id"], ["cdc_ts_ms"],
        )
        snap.write.mode("overwrite").parquet(state + ".next")
        import shutil
        shutil.rmtree(state, ignore_errors=True)
        shutil.move(state + ".next", state)

    def drain():
        q = (
            spark.readStream.schema("v string").parquet(str(src))
            .writeStream.foreachBatch(apply_epoch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    snap1 = {r["id"]: r["amount"] for r in spark.read.parquet(state).collect()}
    assert snap1 == {1: "10.00", 2: "7.25"}

    emit([
        {"id": 1, "amount": None, "op": "d", "ts": 3},
        {"id": 2, "amount": "8.00", "op": "u", "ts": 4},
        {"id": 3, "amount": "1.00", "op": "c", "ts": 5},
    ])
    drain()
    snap2 = {r["id"]: r["amount"] for r in spark.read.parquet(state).collect()}
    assert snap2 == {2: "8.00", 3: "1.00"}  # 1 deleted, 2 updated, 3 created


def test_scd2_history_intervals(changes):
    from kafka_connector_s3_sink_spark.streaming.cdc import scd2_history

    hist = scd2_history(changes, ["id"], ["cdc_ts_ms"])
    rows = sorted(
        ((r["id"], r["valid_from"], r["valid_to"], r["is_current"])
         for r in hist.collect()),
    )
    # id 1: c@1000 -> u@1001 -> d@1003: two closed versions, no current row
    # id 2: c@1002 open; id 3: r@999 open
    assert rows == [
        (1, 1000, 1001, 0),
        (1, 1001, 1003, 0),
        (2, 1002, None, 1),
        (3, 999, None, 1),
    ]
    assert "deleted" not in hist.columns


def test_scd2_is_one_window_shuffle(changes):
    from kafka_connector_s3_sink_spark.streaming.cdc import scd2_history

    plan = (
        scd2_history(changes, ["id"])._jdf.queryExecution()
        .executedPlan().toString()
    )
    # exactly one window operator, no join of the changelog against itself
    assert plan.count("Window") >= 1 and "Join" not in plan


def test_scd2_current_matches_snapshot(changes):
    """The open-interval rows of the history ARE the snapshot (modulo the
    interval columns) — the two views of the changelog must agree."""
    from kafka_connector_s3_sink_spark.streaming.cdc import (
        cdc_snapshot,
        scd2_history,
    )

    cur = {
        r["id"]: r["amount"]
        for r in scd2_history(changes, ["id"], ["cdc_ts_ms"])
        .filter(F.col("is_current") == 1)
        .collect()
    }
    snap = {r["id"]: r["amount"]
            for r in cdc_snapshot(changes, ["id"], ["cdc_ts_ms"]).collect()}
    assert cur == snap
