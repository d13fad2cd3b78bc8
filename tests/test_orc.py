"""ORC output format (engine extension, r8): the columnar sibling of the
parquet path — same grouped-object writer (pyarrow.orc per group, exact
template names, no compression suffix), Spark-native read-back, footer
validation with corrupt-object routing. Like Avro, ORC is Python-API-only:
the reference-parity property path keeps its four-format message."""

import pytest
from pyspark.sql import Row

from kafka_connector_s3_sink_spark.config import (
    CompressionType,
    ConfigValidationError,
    EngineConfig,
    FormatType,
    OutputField,
)
from kafka_connector_s3_sink_spark.records import KAFKA_RECORD_SCHEMA
from kafka_connector_s3_sink_spark.sinks.writer import write_batch
from kafka_connector_s3_sink_spark.sources.objects import read_sink_objects

FIELDS = (OutputField.KEY, OutputField.OFFSET, OutputField.TIMESTAMP,
          OutputField.VALUE)


def _rows():
    return [
        Row(topic="t", partition=p, offset=p * 100 + i, key=f"key-{i}",
            value=f"value-{p}-{i}", timestamp=1000 + i, headers=None)
        for p in (0, 1) for i in range(3)
    ]


def test_property_path_rejects_orc():
    with pytest.raises(ConfigValidationError) as e:
        EngineConfig.from_properties(
            {"aws.s3.bucket.name": "b", "format.output.type": "orc"}
        )
    assert "supported values are: 'csv', 'json', 'jsonl', 'parquet'" in str(e.value)


@pytest.mark.parametrize(
    "compression",
    [CompressionType.NONE, CompressionType.GZIP,
     CompressionType.SNAPPY, CompressionType.ZSTD],
)
def test_write_batch_orc_roundtrip(spark, tmp_path, compression):
    """Exact names (no compression suffix — codec internal), offset order,
    pyarrow-readable contents, all four codec mappings."""
    import pyarrow.orc as pa_orc

    cfg = EngineConfig(
        format_type=FormatType.ORC,
        file_compression=compression,
        output_fields=FIELDS,
    )
    df = spark.createDataFrame(_rows(), KAFKA_RECORD_SCHEMA)
    written = write_batch(df, cfg, str(tmp_path))
    assert written == [("t-0-0", 3), ("t-1-100", 3)]
    f = pa_orc.ORCFile(str(tmp_path / "t-0-0"))
    table = f.read()
    assert table.column_names == ["key", "offset", "timestamp", "value"]
    assert table.column("offset").to_pylist() == [0, 1, 2]
    assert table.column("value").to_pylist() == [
        "value-0-0", "value-0-1", "value-0-2"
    ]


def test_readback_orc_roundtrip_and_route(spark, tmp_path):
    cfg = EngineConfig(
        format_type=FormatType.ORC,
        file_compression=CompressionType.ZSTD,
        output_fields=FIELDS,
    )
    df = spark.createDataFrame(_rows(), KAFKA_RECORD_SCHEMA)
    write_batch(df, cfg, str(tmp_path))

    back = read_sink_objects(spark, str(tmp_path), cfg).orderBy(
        "object_name", "offset"
    )
    rows = back.collect()
    assert len(rows) == 6
    assert rows[0].topic == "t" and rows[0].start_offset == 0
    assert [r.offset for r in rows] == [0, 1, 2, 100, 101, 102]
    assert rows[0].key == "key-0" and rows[0].value == "value-0-0"

    # corrupt one object's tail; route policy isolates it
    victim = tmp_path / "t-0-0"
    data = bytearray(victim.read_bytes())
    data[-8:] = b"\x00" * 8
    victim.write_bytes(bytes(data))
    routed = read_sink_objects(spark, str(tmp_path), cfg, on_error="route")
    bad = routed.filter("decode_error is not null").collect()
    good = routed.filter("decode_error is null").collect()
    assert len(bad) == 1 and bad[0].object_name == "t-0-0"
    assert len(good) == 3
