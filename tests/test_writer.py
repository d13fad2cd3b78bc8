"""Golden-file tests for the object writer — names and bytes pinned to the
reference's unit-test assertions (S3SinkTaskTest.java, IntegrationTest.java),
parameterized over compression like the reference (S3SinkTaskTest.java:175-176)."""

import base64
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.config import (
    CompressionType,
    EngineConfig,
    FieldEncoding,
    FormatType,
    OutputField,
)
from kafka_connector_s3_sink_spark.formats.compression import read_compressed
from kafka_connector_s3_sink_spark.records import (
    KAFKA_RECORD_SCHEMA,
    KAFKA_RECORD_SCHEMA_BINARY,
)
from kafka_connector_s3_sink_spark.sinks.writer import expected_manifest, write_batch


def b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def records_df(spark, rows):
    return spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)


def read_lines(dest, name, compression):
    data = read_compressed(os.path.join(dest, name), compression)
    return data.decode().splitlines()


@pytest.mark.parametrize(
    "compression",
    [CompressionType.NONE, CompressionType.GZIP, CompressionType.SNAPPY, CompressionType.ZSTD],
)
def test_csv_default_grouping_all_compressions(spark, tmp_path, compression):
    """F4-style: per-partition files named {{topic}}-{{partition}}-{{start_offset}},
    contents in offset order, value base64 (golden S3SinkTaskTest.java:215-249)."""
    rows = [
        Row(topic="test-topic", partition=p, offset=p * 100 + i, key=f"key-{i}",
            value=f"value-{p}-{i}", timestamp=1000 + i, headers=None)
        for p in (0, 1) for i in range(3)
    ]
    cfg = EngineConfig(file_compression=compression)
    written = write_batch(records_df(spark, rows), cfg, str(tmp_path))
    ext = compression.extension
    assert [w[0] for w in written] == [f"test-topic-0-0{ext}", f"test-topic-1-100{ext}"]
    assert read_lines(tmp_path, f"test-topic-0-0{ext}", compression) == [
        b64("value-0-0"), b64("value-0-1"), b64("value-0-2"),
    ]
    assert read_lines(tmp_path, f"test-topic-1-100{ext}", compression) == [
        b64("value-1-0"), b64("value-1-1"), b64("value-1-2"),
    ]


def test_padded_filename_and_prefix(spark, tmp_path):
    """Golden name prefix-test-topic-0-00000000000000000000 (S3SinkTaskTest.java:198-213)."""
    rows = [Row(topic="test-topic", partition=0, offset=0, key="k", value="v",
                timestamp=1000, headers=None)]
    cfg = EngineConfig(
        prefix="prefix-",
        file_name_template="{{topic}}-{{partition}}-{{start_offset:padding=true}}",
        file_compression=CompressionType.NONE,
    )
    written = write_batch(records_df(spark, rows), cfg, str(tmp_path))
    assert written == [("prefix-test-topic-0-00000000000000000000", 1)]


def test_jsonl_golden_lines(spark, tmp_path):
    """{"value":"value0","key":"key0"} per line (S3SinkTaskTest.java:543-551)."""
    rows = [
        Row(topic="topic0", partition=0, offset=10, key="key0", value="value0",
            timestamp=1000, headers=None),
        Row(topic="topic0", partition=0, offset=11, key="key1", value="value1",
            timestamp=1001, headers=None),
    ]
    cfg = EngineConfig(
        format_type=FormatType.JSONL,
        output_fields=(OutputField.VALUE, OutputField.KEY),
        file_compression=CompressionType.NONE,
    )
    write_batch(records_df(spark, rows), cfg, str(tmp_path))
    assert read_lines(tmp_path, "topic0-0-10", CompressionType.NONE) == [
        '{"value":"value0","key":"key0"}',
        '{"value":"value1","key":"key1"}',
    ]


def test_json_array_single_record(spark, tmp_path):
    """["[", "{…}", "]"] shape (S3SinkTaskTest.java:714-722)."""
    rows = [Row(topic="topic0", partition=0, offset=10, key="key0",
                value='{"name":"name0"}', timestamp=1000, headers=None)]
    cfg = EngineConfig(
        format_type=FormatType.JSON,
        output_fields=(OutputField.VALUE, OutputField.KEY),
        file_compression=CompressionType.NONE,
    )
    write_batch(records_df(spark, rows), cfg, str(tmp_path))
    assert read_lines(tmp_path, "topic0-0-10", CompressionType.NONE) == [
        "[", '{"value":{"name":"name0"},"key":"key0"}', "]",
    ]


def test_json_array_trailing_commas(spark, tmp_path):
    """Commas on all but the last element (IntegrationTest.java:492-512)."""
    rows = [
        Row(topic="t", partition=0, offset=i, key=f"k{i}", value=f"v{i}",
            timestamp=None, headers=None)
        for i in range(3)
    ]
    cfg = EngineConfig(
        format_type=FormatType.JSON,
        output_fields=(OutputField.VALUE,),
        file_compression=CompressionType.NONE,
    )
    write_batch(records_df(spark, rows), cfg, str(tmp_path))
    assert read_lines(tmp_path, "t-0-0", CompressionType.NONE) == [
        "[", '{"value":"v0"},', '{"value":"v1"},', '{"value":"v2"}', "]",
    ]


def test_key_grouping_upsert_with_null_key(spark, tmp_path):
    """F5: one object per key holding only the last value; null key → 'null' object
    (IntegrationTest.java:309-379)."""
    rows = [
        Row(topic="t", partition=0, offset=1, key="key-0", value="old-0", timestamp=None, headers=None),
        Row(topic="t", partition=0, offset=5, key="key-0", value="new-0", timestamp=None, headers=None),
        Row(topic="t", partition=1, offset=2, key=None, value="old-null", timestamp=None, headers=None),
        Row(topic="t", partition=1, offset=6, key=None, value="new-null", timestamp=None, headers=None),
        Row(topic="t", partition=0, offset=3, key="key-8", value="only-8", timestamp=None, headers=None),
    ]
    cfg = EngineConfig(
        file_name_template="{{key}}",
        file_max_records=1,
        output_fields=(OutputField.KEY, OutputField.VALUE),
        value_encoding=FieldEncoding.NONE,
        file_compression=CompressionType.NONE,
    )
    written = write_batch(records_df(spark, rows), cfg, str(tmp_path))
    assert [w[0] for w in written] == ["key-0", "key-8", "null"]
    assert read_lines(tmp_path, "key-0", CompressionType.NONE) == ["key-0,new-0"]
    # null key renders as empty CSV field but names the object 'null'
    assert read_lines(tmp_path, "null", CompressionType.NONE) == [",new-null"]


def test_max_records_one_record_per_file(spark, tmp_path):
    """F6: file.max.records=1 → one file per record, named by its own offset
    (IntegrationTest.java:260-307)."""
    rows = [
        Row(topic="test-topic-0", partition=p, offset=o, key=None, value=f"v-{p}-{o}",
            timestamp=None, headers=None)
        for p, o in [(0, 0), (0, 1), (0, 2), (1, 10), (3, 30)]
    ]
    cfg = EngineConfig(
        file_max_records=1,
        value_encoding=FieldEncoding.NONE,
        file_compression=CompressionType.NONE,
    )
    written = write_batch(records_df(spark, rows), cfg, str(tmp_path))
    assert [w[0] for w in written] == [
        "test-topic-0-0-0", "test-topic-0-0-1", "test-topic-0-0-2",
        "test-topic-0-1-10", "test-topic-0-3-30",
    ]
    assert read_lines(tmp_path, "test-topic-0-3-30", CompressionType.NONE) == ["v-3-30"]


def _rec(partition, offset, key=None, value="v"):
    return Row(topic="t", partition=partition, offset=offset, key=key,
               value=value, timestamp=None, headers=None)


@pytest.mark.parametrize(
    "rows, cfg, want",
    [
        pytest.param(
            [_rec(0, 5), _rec(1, 101), _rec(0, 7), _rec(1, 100), _rec(0, 6)],
            EngineConfig(),
            [("t-0-5.gz", 3), ("t-1-100.gz", 2)],
            id="plain_out_of_order",
        ),
        pytest.param(
            [_rec(0, o) for o in (3, 0, 4, 1, 2)],
            EngineConfig(file_max_records=2),
            [("t-0-0.gz", 2), ("t-0-2.gz", 2), ("t-0-4.gz", 1)],
            id="max_records_2",
        ),
        pytest.param(
            [_rec(0, o, value='{"a":1}') for o in range(3)]
            + [_rec(0, o, value='{"b":1}') for o in range(3, 6)],
            EngineConfig(
                format_type=FormatType.PARQUET,
                output_fields=(OutputField.OFFSET,),
                parquet_schema_rotation=True,
                file_max_records=2,
            ),
            [("t-0-0", 2), ("t-0-2", 1), ("t-0-3", 2), ("t-0-5", 1)],
            id="rotation_max_records_2",
        ),
        pytest.param(
            [_rec(0, 1, "k1"), _rec(1, 4), _rec(1, 6), _rec(0, 9, "k1")],
            EngineConfig(
                file_name_template="{{key}}",
                file_max_records=1,
                file_compression=CompressionType.NONE,
            ),
            [("k1", 1), ("null", 1)],
            id="key",
        ),
    ],
)
def test_expected_manifest_matches_write(spark, tmp_path, rows, cfg, want):
    """The dry-run manifest (what repair and the bench's manifest check diff
    against) names exactly the objects the write commits: start offsets are
    each chunk's minimum offset whatever the arrival order, chunks restart at
    every schema run, and key mode names one object per key."""
    df = records_df(spark, rows)
    assert write_batch(df, cfg, str(tmp_path)) == want
    assert sorted(tuple(r) for r in expected_manifest(df, cfg).collect()) == want


def test_timestamp_grouping_with_injected_clock(spark, tmp_path):
    """F7: timestamp template units from an injected fixed clock."""
    rows = [Row(topic="t", partition=0, offset=7, key=None, value="v", timestamp=None, headers=None)]
    cfg = EngineConfig(
        file_name_template=(
            "{{topic}}-{{partition}}-{{start_offset}}-"
            "{{timestamp:unit=yyyy}}-{{timestamp:unit=MM}}-{{timestamp:unit=dd}}"
        ),
        value_encoding=FieldEncoding.NONE,
        file_compression=CompressionType.NONE,
    )
    clock = F.to_timestamp(F.lit("2024-03-01 12:00:00"))
    written = write_batch(records_df(spark, rows), cfg, str(tmp_path), clock=clock)
    assert written == [("t-0-7-2024-03-01", 1)]


def test_parquet_envelope_roundtrip(spark, tmp_path):
    """Parquet object with envelope fields in reference order (README.md:357-405)."""
    rows = [
        Row(topic="t", partition=0, offset=i, key=f"k{i}", value=f"v{i}",
            timestamp=1000 + i, headers=None)
        for i in range(4)
    ]
    cfg = EngineConfig(
        format_type=FormatType.PARQUET,
        output_fields=(
            OutputField.KEY, OutputField.OFFSET, OutputField.TIMESTAMP, OutputField.VALUE,
        ),
        file_compression=CompressionType.GZIP,
    )
    written = write_batch(records_df(spark, rows), cfg, str(tmp_path))
    assert [w[0] for w in written] == ["t-0-0"]  # no compression suffix for parquet
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(tmp_path, "t-0-0"))
    assert table.column_names == ["key", "offset", "timestamp", "value"]
    assert table.column("offset").to_pylist() == [0, 1, 2, 3]
    assert table.column("value").to_pylist() == ["v0", "v1", "v2", "v3"]


def test_parquet_schema_change_rotation(spark, tmp_path):
    """Value-schema change mid-partition rotates the file: records 0-4 schema A,
    5-8 schema B, 9 back to A → files at start offsets 0, 5, AND 9 (a returning
    schema opens a new file, never reopens the old one;
    AvroParquetIntegrationTest.java:288-335)."""
    rows = (
        [Row(topic="t", partition=0, offset=i, key=f"k{i}", value='{"name":"a"}',
             timestamp=1000 + i, headers=None) for i in range(5)]
        + [Row(topic="t", partition=0, offset=i, key=f"k{i}",
               value='{"name":"a","blocked":true}', timestamp=1000 + i, headers=None)
           for i in range(5, 9)]
        + [Row(topic="t", partition=0, offset=9, key="k9", value='{"name":"a"}',
               timestamp=1009, headers=None)]
    )
    cfg = EngineConfig(
        format_type=FormatType.PARQUET,
        output_fields=(OutputField.OFFSET, OutputField.VALUE),
        parquet_schema_rotation=True,
    )
    written = write_batch(records_df(spark, rows), cfg, str(tmp_path))
    assert written == [("t-0-0", 5), ("t-0-5", 4), ("t-0-9", 1)]
    import pyarrow.parquet as pq

    assert pq.read_table(os.path.join(tmp_path, "t-0-5")).column("offset").to_pylist() == [5, 6, 7, 8]


def test_parquet_rotation_composes_with_max_records(spark, tmp_path):
    """Rotation + file.max.records: each schema run chunks independently."""
    rows = (
        [Row(topic="t", partition=0, offset=i, key=None, value='{"a":1}',
             timestamp=None, headers=None) for i in range(4)]
        + [Row(topic="t", partition=0, offset=i, key=None, value='{"b":1}',
               timestamp=None, headers=None) for i in range(4, 7)]
    )
    cfg = EngineConfig(
        format_type=FormatType.PARQUET,
        output_fields=(OutputField.OFFSET,),
        parquet_schema_rotation=True,
        file_max_records=2,
    )
    written = write_batch(records_df(spark, rows), cfg, str(tmp_path))
    assert written == [("t-0-0", 2), ("t-0-2", 2), ("t-0-4", 2), ("t-0-6", 1)]


def test_parquet_nested_record_value(spark, tmp_path):
    """Schema'd value mode: with format.output.parquet.value.schema set, the
    envelope's value is a TRUE NESTED RECORD (struct column), not a JSON string
    — the reference's Avro-record value shape
    (AvroParquetIntegrationTest.java:136-349, README.md:357-405). Fields absent
    from a record's JSON read back as nulls (configured reader schema)."""
    rows = [
        Row(topic="t", partition=0, offset=0, key="k0",
            value='{"name":"user-0","score":1.5}', timestamp=1000, headers=None),
        Row(topic="t", partition=0, offset=1, key="k1",
            value='{"name":"user-1"}', timestamp=1001, headers=None),
        Row(topic="t", partition=0, offset=2, key="k2", value=None,
            timestamp=1002, headers=None),
    ]
    cfg = EngineConfig(
        format_type=FormatType.PARQUET,
        output_fields=(OutputField.KEY, OutputField.OFFSET, OutputField.VALUE),
        parquet_value_schema="name STRING, score DOUBLE",
    )
    written = write_batch(records_df(spark, rows), cfg, str(tmp_path))
    assert written == [("t-0-0", 3)]
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(tmp_path, "t-0-0"))
    assert table.column_names == ["key", "offset", "value"]
    value_type = table.schema.field("value").type
    assert value_type.num_fields == 2  # struct<name,score>, not a string
    assert table.column("value").to_pylist() == [
        {"name": "user-0", "score": 1.5},
        {"name": "user-1", "score": None},
        None,
    ]
    # Spark reads the same nested column back
    back = spark.read.parquet(str(tmp_path / "t-0-0"))
    assert back.select("value.name").rdd.map(lambda r: r[0]).collect() == [
        "user-0", "user-1", None,
    ]


def test_parquet_nested_value_composes_with_rotation(spark, tmp_path):
    """Rotation keys on the observed JSON key set (the JSON analog of the
    embedded Avro-schema identity) BEFORE the configured reader schema parses
    the struct — so a shape change still rotates, and both files carry the
    nested struct column."""
    rows = (
        [Row(topic="t", partition=0, offset=i, key=None, value='{"name":"a"}',
             timestamp=None, headers=None) for i in range(3)]
        + [Row(topic="t", partition=0, offset=i, key=None,
               value='{"name":"a","score":2.0}', timestamp=None, headers=None)
           for i in range(3, 5)]
    )
    cfg = EngineConfig(
        format_type=FormatType.PARQUET,
        output_fields=(OutputField.OFFSET, OutputField.VALUE),
        parquet_schema_rotation=True,
        parquet_value_schema="name STRING, score DOUBLE",
    )
    written = write_batch(records_df(spark, rows), cfg, str(tmp_path))
    assert written == [("t-0-0", 3), ("t-0-3", 2)]
    import pyarrow.parquet as pq

    t2 = pq.read_table(os.path.join(tmp_path, "t-0-3"))
    assert t2.column("value").to_pylist() == [
        {"name": "a", "score": 2.0},
        {"name": "a", "score": 2.0},
    ]


def test_parquet_value_schema_requires_parquet():
    from kafka_connector_s3_sink_spark.config import ConfigValidationError

    with pytest.raises(ConfigValidationError, match="requires format.output.type=parquet"):
        EngineConfig(parquet_value_schema="name STRING")


@pytest.mark.parametrize(
    "compression",
    [CompressionType.NONE, CompressionType.GZIP, CompressionType.SNAPPY, CompressionType.ZSTD],
)
def test_parquet_all_compression_codecs(spark, tmp_path, compression):
    """Parquet internal compression for every supported codec; object names
    never gain a compression suffix (compression is inside the format)."""
    rows = [Row(topic="t", partition=0, offset=i, key=None, value=f"v{i}",
                timestamp=None, headers=None) for i in range(3)]
    cfg = EngineConfig(
        format_type=FormatType.PARQUET,
        output_fields=(OutputField.OFFSET, OutputField.VALUE),
        file_compression=compression,
    )
    written = write_batch(records_df(spark, rows), cfg, str(tmp_path))
    assert written == [("t-0-0", 3)]
    import pyarrow.parquet as pq

    assert pq.read_table(os.path.join(tmp_path, "t-0-0")).column("value").to_pylist() == [
        "v0", "v1", "v2"
    ]


def test_timestamp_grouping_respects_timezone(spark, tmp_path):
    """timestamp.timezone shifts the rendered date: 23:30 UTC on Mar 1 is
    already Mar 2 in Europe/Berlin (UTC+1)."""
    rows = [Row(topic="t", partition=0, offset=7, key=None, value="v",
                timestamp=None, headers=None)]
    cfg = EngineConfig(
        file_name_template=(
            "{{topic}}-{{partition}}-{{start_offset}}-"
            "{{timestamp:unit=yyyy}}-{{timestamp:unit=MM}}-{{timestamp:unit=dd}}"
        ),
        value_encoding=FieldEncoding.NONE,
        file_compression=CompressionType.NONE,
        timestamp_timezone="Europe/Berlin",
    )
    clock = F.to_timestamp(F.lit("2024-03-01 23:30:00"))  # UTC instant
    written = write_batch(records_df(spark, rows), cfg, str(tmp_path), clock=clock)
    assert written == [("t-0-7-2024-03-02", 1)]


def test_sidecar_manifest_mode(spark, tmp_path):
    """manifest='sidecar': per-object entries land in dest/_manifest/*.jsonl
    written by the writer tasks themselves; the driver gets nothing back —
    the scale path when file.max.records=1 produces millions of objects."""
    import json

    rows = [
        Row(topic="t", partition=p, offset=o, key=None, value=f"v-{p}-{o}",
            timestamp=None, headers=None)
        for p, o in [(0, 0), (0, 1), (1, 10)]
    ]
    cfg = EngineConfig(
        file_max_records=1,
        value_encoding=FieldEncoding.NONE,
        file_compression=CompressionType.NONE,
    )
    result = write_batch(records_df(spark, rows), cfg, str(tmp_path), manifest="sidecar")
    assert result == []
    entries = []
    for shard in (tmp_path / "_manifest").glob("part-*.jsonl"):
        with open(shard) as f:
            entries += [json.loads(line) for line in f]
    assert sorted((e["object"], e["records"]) for e in entries) == [
        ("t-0-0", 1), ("t-0-1", 1), ("t-1-10", 1),
    ]
    # the objects themselves were still written
    assert read_lines(tmp_path, "t-1-10", CompressionType.NONE) == ["v-1-10"]


def test_write_objects_sidecar_yields_no_rows(tmp_path, monkeypatch):
    """The writer loop in sidecar mode, fed in-memory Arrow batches: it
    yields one zero-row batch (nothing per object for the driver) and its
    manifest shard names every object with its record count, including a
    group that spans two batches."""
    import json

    import pyarrow as pa
    from pyspark import TaskContext

    from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage
    from kafka_connector_s3_sink_spark.sinks.writer import _text_encoder, _write_objects

    class Task:
        def partitionId(self):
            return 3

    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: Task()))
    batches = [
        pa.RecordBatch.from_pydict({"_file": ["a", "a", "b"], "_line": ["1", "2", "3"]}),
        pa.RecordBatch.from_pydict({"_file": ["b", "c"], "_line": ["4", "5"]}),
    ]
    encoder = _text_encoder(EngineConfig(file_compression=CompressionType.NONE))
    run = _write_objects(ObjectStorage(str(tmp_path)), encoder, sidecar=True)
    assert [b.num_rows for b in run(iter(batches))] == [0]
    shard = (tmp_path / "_manifest" / "part-00003.jsonl").read_text()
    assert [json.loads(line) for line in shard.splitlines()] == [
        {"object": "a", "records": 2},
        {"object": "b", "records": 2},
        {"object": "c", "records": 1},
    ]
    assert (tmp_path / "b").read_text() == "3\n4\n"


def test_unknown_manifest_mode_rejected(spark, tmp_path):
    """A typo must not silently fall back to driver mode."""
    with pytest.raises(ValueError, match="unknown manifest mode 'sidcar'"):
        write_batch(records_df(spark, []), EngineConfig(), str(tmp_path),
                    manifest="sidcar")
    assert not any(tmp_path.iterdir())


def test_groups_spanning_arrow_batches_r16(spark, tmp_path):
    """r16 (Arrow writer): a group larger than one Arrow record batch must
    produce identical object content to the single-batch case — the
    cross-batch carry is the new seam (JSON's ",\n" continuation separator,
    parquet's multi-slice buffer, avro's open OCF stream). The binary Avro
    input also carries headers, the one column encoded value by value beside
    the column-wise key/value bytes."""
    import json as _json

    from kafka_connector_s3_sink_spark.formats.avro import read_ocf

    rows = [
        Row(topic="t", partition=0, offset=i, key=f"k{i}",
            value=f"v{i}", timestamp=1000 + i, headers=None)
        for i in range(25)
    ] + [
        Row(topic="u", partition=0, offset=100 + i, key=f"k{i}",
            value=f"w{i}", timestamp=2000 + i, headers=None)
        for i in range(7)
    ]

    def headers(offset):
        if offset % 5 == 0:
            return []
        return [Row(key="h", value=b"\x00\xff" * (offset % 3)), Row(key="n", value=None)]

    binary_rows = [
        Row(topic=r.topic, partition=r.partition, offset=r.offset,
            key=r.key.encode(), value=r.value.encode(), timestamp=r.timestamp,
            headers=headers(r.offset))
        for r in rows
    ]
    outputs = {}
    for tag, batch_rows in (("small", 4), ("big", 10000)):
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", batch_rows)
        try:
            for fmt, cfgkw in (
                ("json", dict(format_type=FormatType.JSON,
                              file_compression=CompressionType.NONE)),
                ("csv", dict(file_compression=CompressionType.NONE)),
                ("parquet", dict(format_type=FormatType.PARQUET,
                                 output_fields=(OutputField.KEY, OutputField.VALUE))),
                ("avro", dict(format_type=FormatType.AVRO,
                              file_compression=CompressionType.NONE,
                              output_fields=(OutputField.KEY, OutputField.VALUE))),
                ("orc", dict(format_type=FormatType.ORC,
                             output_fields=(OutputField.KEY, OutputField.VALUE))),
                ("csv_gzip", dict(file_compression=CompressionType.GZIP)),
                ("avro_zstd", dict(format_type=FormatType.AVRO,
                                   file_compression=CompressionType.ZSTD,
                                   output_fields=(OutputField.KEY, OutputField.VALUE))),
                ("avro_binary_headers", dict(
                    format_type=FormatType.AVRO,
                    file_compression=CompressionType.ZSTD,
                    output_fields=(OutputField.KEY, OutputField.VALUE,
                                   OutputField.HEADERS))),
            ):
                dest = tmp_path / f"{fmt}-{tag}"
                df = (
                    spark.createDataFrame(binary_rows, KAFKA_RECORD_SCHEMA_BINARY)
                    if fmt == "avro_binary_headers"
                    else records_df(spark, rows)
                )
                written = write_batch(df, EngineConfig(**cfgkw), str(dest))
                assert [w[1] for w in written] == [25, 7]
                outputs[(fmt, tag)] = {
                    n: (dest / n).read_bytes() for n, _ in written
                }
        finally:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    for fmt in ("json", "csv", "parquet", "avro", "orc", "csv_gzip", "avro_zstd",
                "avro_binary_headers"):
        assert outputs[(fmt, "small")] == outputs[(fmt, "big")], fmt
    for name, data in outputs[("avro_binary_headers", "small")].items():
        _, records = read_ocf(data)
        want = [r for r in binary_rows if name.startswith(f"{r.topic}-")]
        assert [(d["key"], d["value"]) for d in records] == [
            (r.key, r.value) for r in want
        ]
        assert [d["headers"] for d in records] == [
            [h.asDict() for h in r.headers] for r in want
        ]
    # JSON array framing stays a single well-formed array across the carry
    (name, data), = (
        (n, d) for n, d in outputs[("json", "small")].items() if n.startswith("t-")
    )
    parsed = _json.loads(data.decode())
    assert [r["value"] for r in parsed] == [f"v{i}" for i in range(25)]
