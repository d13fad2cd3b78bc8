"""Projection/encoding/grouping operators against the reference's golden
fixtures (F1/F2 of FIXTURES.md; S3SinkTaskTest.java golden lines)."""

import base64

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.config import EngineConfig, FieldEncoding, OutputField
from kafka_connector_s3_sink_spark.operators import grouping, projection
from kafka_connector_s3_sink_spark.records import KAFKA_RECORD_SCHEMA


def b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


@pytest.fixture()
def f1_records(spark):
    """F1: constant key/value + two headers, offsets 0..9 on one partition."""
    rows = [
        Row(
            topic="test-topic",
            partition=0,
            offset=i,
            key="test-key",
            value="test-value",
            timestamp=1000,
            headers=[
                Row(key="test-header-key-1", value=b"test-header-value-1"),
                Row(key="test-header-key-2", value=b"test-header-value-2"),
            ],
        )
        for i in range(10)
    ]
    return spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)


def test_csv_line_all_fields_golden(f1_records):
    # field order value,key,timestamp,offset,headers → headers at index 4
    # (S3SinkTaskTest.java:183,218)
    cfg = EngineConfig(
        output_fields=(
            OutputField.VALUE,
            OutputField.KEY,
            OutputField.TIMESTAMP,
            OutputField.OFFSET,
            OutputField.HEADERS,
        )
    )
    line = (
        f1_records.filter(F.col("offset") == 3)
        .select(projection.csv_line_column(cfg).alias("line"))
        .collect()[0]["line"]
    )
    expected_headers = ";".join(
        [
            f"{b64('test-header-key-1')}:{b64('test-header-value-1')}",
            f"{b64('test-header-key-2')}:{b64('test-header-value-2')}",
        ]
    )
    assert line == f"{b64('test-value')},{b64('test-key')},1000,3,{expected_headers}"


def test_csv_encoding_none(f1_records):
    cfg = EngineConfig(
        output_fields=(OutputField.KEY, OutputField.VALUE),
        value_encoding=FieldEncoding.NONE,
    )
    line = (
        f1_records.limit(1).select(projection.csv_line_column(cfg).alias("line")).collect()[0]["line"]
    )
    assert line == "test-key,test-value"


def test_csv_nulls_render_empty(spark):
    rows = [Row(topic="t", partition=0, offset=0, key=None, value=None, timestamp=None, headers=None)]
    df = spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)
    cfg = EngineConfig(
        output_fields=(OutputField.KEY, OutputField.VALUE, OutputField.TIMESTAMP, OutputField.OFFSET)
    )
    line = df.select(projection.csv_line_column(cfg).alias("line")).collect()[0]["line"]
    assert line == ",,,0"  # README.md:251-257


def test_jsonl_golden_line(spark):
    # F2 golden: {"value":"value0","key":"key0"} (S3SinkTaskTest.java:543-551)
    rows = [Row(topic="t0", partition=0, offset=10, key="key0", value="value0", timestamp=1000, headers=None)]
    df = spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)
    cfg = EngineConfig(output_fields=(OutputField.VALUE, OutputField.KEY))
    line = df.select(projection.json_object_column(cfg).alias("j")).collect()[0]["j"]
    assert line == '{"value":"value0","key":"key0"}'


def test_jsonl_struct_value_inlined(spark):
    # F3: struct value inlines as nested JSON: {"value":{"name":"name0"},"key":"key0"}
    rows = [Row(topic="t0", partition=0, offset=10, key="key0", value='{"name":"name0"}', timestamp=1000, headers=None)]
    df = spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)
    cfg = EngineConfig(output_fields=(OutputField.VALUE, OutputField.KEY))
    line = df.select(projection.json_object_column(cfg).alias("j")).collect()[0]["j"]
    assert line == '{"value":{"name":"name0"},"key":"key0"}'


def test_envelope_unwrap(spark):
    rows = [Row(topic="t0", partition=0, offset=10, key="k", value='{"name":"name0"}', timestamp=1000, headers=None)]
    df = spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)
    cfg = EngineConfig(output_fields=(OutputField.VALUE,), envelope=False)
    line = df.select(projection.json_object_column(cfg).alias("j")).collect()[0]["j"]
    assert line == '{"name":"name0"}'  # S3SinkTaskTest.java:636-682


def test_last_value_per_key_with_null_key(spark):
    # F5 semantics: one record per stringified key, the max-offset one; null → 'null'
    rows = [
        Row(topic="t", partition=0, offset=1, key="k1", value="old", timestamp=None, headers=None),
        Row(topic="t", partition=0, offset=9, key="k1", value="new", timestamp=None, headers=None),
        Row(topic="t", partition=1, offset=4, key=None, value="n-old", timestamp=None, headers=None),
        Row(topic="t", partition=1, offset=6, key=None, value="n-new", timestamp=None, headers=None),
    ]
    df = spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)
    got = {r["key"]: r["value"] for r in grouping.last_value_per_key(df).collect()}
    # original (nullable) key is preserved; grouping used the stringified key
    assert got == {"k1": "new", None: "n-new"}


def test_file_chunking(spark):
    rows = [
        Row(topic="t", partition=0, offset=o, key=None, value=f"v{o}", timestamp=None, headers=None)
        for o in range(5)
    ]
    df = spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)
    cfg = EngineConfig(file_max_records=2)
    chunked = grouping.assign_file_chunks(df, cfg)
    got = sorted((r["offset"], r["_chunk"]) for r in chunked.collect())
    assert got == [(0, 0), (1, 0), (2, 1), (3, 1), (4, 2)]


def test_unlimited_chunking_single_chunk(spark):
    rows = [
        Row(topic="t", partition=0, offset=o, key=None, value="v", timestamp=None, headers=None)
        for o in range(3)
    ]
    df = spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)
    cfg = EngineConfig(file_max_records=0)
    assert set(
        r["_chunk"] for r in grouping.assign_file_chunks(df, cfg).collect()
    ) == {0}
