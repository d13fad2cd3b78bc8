"""Avro Object Container File output format (engine extension): OCF codec
golden bytes + round-trips, the grouped write path (exact names, idempotent
byte-identical replays, abort-on-error), and read-back incl. the corrupt-
object route policy. Format per the public Avro 1.12 spec ("Object Container
Files" chapter); the reference's own format family stops at parquet
(README.md:357-405), so this surface is beyond-reference by design."""

import hashlib
import io
import json

import pytest
from pyspark.sql import Row

from kafka_connector_s3_sink_spark.config import (
    CompressionType,
    ConfigValidationError,
    EngineConfig,
    FormatType,
    OutputField,
)
from kafka_connector_s3_sink_spark.formats import avro as A
from kafka_connector_s3_sink_spark.records import (
    KAFKA_RECORD_SCHEMA,
    KAFKA_RECORD_SCHEMA_BINARY,
)
from kafka_connector_s3_sink_spark.sinks.writer import write_batch
from kafka_connector_s3_sink_spark.sources.objects import read_sink_objects

SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "k", "type": ["null", "string"]},
        {"name": "o", "type": "long"},
        {"name": "v", "type": ["null", "bytes"]},
    ],
}
RECS = [
    {"k": "a", "o": 1, "v": b"x"},
    {"k": None, "o": 2, "v": None},
    {"k": "c", "o": 3, "v": b"yz"},
]
SYNC = b"0123456789abcdef"


def _ocf_bytes(codec, recs=RECS, block_records=1000):
    out = io.BytesIO()
    w = A.OCFWriter(out, SCHEMA, codec=codec, sync_marker=SYNC,
                    block_records=block_records)
    for r in recs:
        w.append(r)
    w.close()
    return out.getvalue()


def test_ocf_golden_bytes_null_codec():
    """One record, null codec — every byte derived by hand from the spec:
    magic, 2-entry metadata map (sorted keys), sync, then one block of
    (count=1, size, body, sync)."""
    data = _ocf_bytes("null", recs=[{"k": "a", "o": 1, "v": b"x"}])
    schema_json = json.dumps(SCHEMA, separators=(",", ":")).encode()

    def zz(n):  # zigzag varint of non-negative ints
        acc = n * 2
        out = b""
        while True:
            b7 = acc & 0x7F
            acc >>= 7
            if acc:
                out += bytes([b7 | 0x80])
            else:
                return out + bytes([b7])

    meta = (
        zz(2)
        + zz(10) + b"avro.codec" + zz(4) + b"null"
        + zz(11) + b"avro.schema" + zz(len(schema_json)) + schema_json
        + zz(0)
    )
    body = (
        bytes([2]) + zz(1) + b"a"  # union idx 1 (string), len 1, 'a'
        + bytes([2])               # long 1 zigzag
        + bytes([2]) + zz(1) + b"x"  # union idx 1 (bytes), len 1, 'x'
    )
    want = (
        b"Obj\x01" + meta + SYNC
        + zz(1) + zz(len(body)) + body + SYNC
    )
    assert data == want


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy", "zstandard"])
def test_ocf_roundtrip_and_determinism(codec):
    data = _ocf_bytes(codec, block_records=2)  # forces a partial final block
    schema, got = A.read_ocf(data)
    assert got == RECS
    assert schema["name"] == "r"
    assert _ocf_bytes(codec, block_records=2) == data  # byte-identical rerun


def test_ocf_detects_corruption():
    data = bytearray(_ocf_bytes("deflate"))
    data[-3] ^= 0xFF  # stomp the trailing sync marker
    with pytest.raises(A.AvroError, match="sync marker"):
        A.read_ocf(bytes(data))
    with pytest.raises(A.AvroError, match="magic"):
        A.read_ocf(b"NOPE" + bytes(data[4:]))
    with pytest.raises(A.AvroError):
        A.read_ocf(bytes(data[: len(data) // 2]))  # truncated


_HEADERS = {
    "type": "array",
    "items": ["null", {
        "type": "record",
        "name": "header",
        "fields": [
            {"name": "key", "type": "string"},
            {"name": "value", "type": ["null", "bytes"]},
        ],
    }],
}
SINK_SCHEMA = {
    "type": "record",
    "name": "sink",
    "fields": [
        {"name": "key", "type": ["null", "string"]},
        {"name": "bkey", "type": ["null", "bytes"]},
        {"name": "offset", "type": "long"},
        {"name": "timestamp", "type": ["null", "long"]},
        {"name": "partition", "type": "int"},
        {"name": "value", "type": ["null", "bytes"]},
        {"name": "svalue", "type": ["null", "string"]},
        {"name": "headers", "type": ["null", _HEADERS]},
    ],
}
_LONGS = [0, 1, -1, 63, -63, 64, -64, 8191, -8191, 8192, -8192,
          2**63 - 1, -(2**63)]
_TEXTS = [None, "", "a", "é", "漢字", "🙂x", "plain ascii " * 20]
_HEADER_VALUES = [
    None,
    [],
    [{"key": "h", "value": None}],
    [{"key": "é", "value": b"\x00\xff"}, None, {"key": "", "value": b""}],
]


def _sink_batch(all_null=False):
    import pyarrow as pa

    rows = [
        {
            "key": _TEXTS[i % len(_TEXTS)],
            "bkey": None if i % 5 == 0 else bytes(range(i % 7)),
            "offset": _LONGS[i % len(_LONGS)],
            "timestamp": None if i % 3 == 0 else _LONGS[(i * 5) % len(_LONGS)],
            "partition": [0, 1, -1, 2**31 - 1, -(2**31)][i % 5],
            "value": None if i % 4 == 0 else b"\x80" * (i % 200),
            "svalue": _TEXTS[(i * 3) % len(_TEXTS)],
            "headers": _HEADER_VALUES[i % len(_HEADER_VALUES)],
        }
        for i in range(60)
    ]
    if all_null:
        rows = [
            {k: v if k in ("offset", "partition") else None for k, v in r.items()}
            for r in rows
        ]
    header = pa.struct([("key", pa.string()), ("value", pa.binary())])
    schema = pa.schema([
        ("key", pa.string()), ("bkey", pa.binary()), ("offset", pa.int64()),
        ("timestamp", pa.int64()), ("partition", pa.int32()),
        ("value", pa.binary()), ("svalue", pa.string()),
        ("headers", pa.list_(header)),
    ])
    return pa.RecordBatch.from_pylist(rows, schema=schema)


@pytest.mark.parametrize(
    "all_null,start,length",
    [(False, 0, 60), (False, 7, 41), (False, 59, 1), (False, 3, 0), (True, 5, 20)],
)
def test_encode_rows_matches_row_codec(all_null, start, length):
    """The column encoder is byte-identical to the row codec for every
    column type the sink sends, on slices with a nonzero Arrow offset (the
    writer passes ``payload.slice(start, length)``), including a slice whose
    nullable columns are all null."""
    import numpy as np

    batch = _sink_batch(all_null).slice(start, length)
    offsets, data = A.encode_rows(batch, SINK_SCHEMA)
    want = [A.encode(r, SINK_SCHEMA) for r in batch.to_pylist()]
    assert bytes(data) == b"".join(want)
    assert offsets.tolist() == np.cumsum([0] + [len(w) for w in want]).tolist()


def test_ocf_append_encoded_straddles_slices():
    """One block-framing path: slices of 1, 2, 4 and 5 rows through
    ``append_encoded`` cut 3-record blocks across slice boundaries and end
    in a partial block, exactly like row-by-row ``append``."""
    batch = _sink_batch().slice(2, 12)
    rows = batch.to_pylist()

    def ocf(feed):
        out = io.BytesIO()
        w = A.OCFWriter(out, SINK_SCHEMA, codec="deflate", sync_marker=SYNC,
                        block_records=3)
        feed(w)
        w.close()
        assert w.total_records == 12
        return out.getvalue()

    def by_row(w):
        for r in rows:
            w.append(r)

    def by_slice(w):
        start = 0
        for size in (1, 2, 4, 5):
            w.append_encoded(*A.encode_rows(batch.slice(start, size), SINK_SCHEMA))
            start += size

    data = ocf(by_slice)
    assert data == ocf(by_row)
    assert A.read_ocf(data)[1] == rows


def test_encode_rows_rejects_column_name_mismatch():
    batch = _sink_batch()
    renamed = batch.rename_columns(
        ["offset", "bkey", "key"] + batch.schema.names[3:]
    )
    with pytest.raises(A.AvroError, match="do not match"):
        A.encode_rows(renamed, SINK_SCHEMA)
    with pytest.raises(A.AvroError, match="do not match"):
        A.encode_rows(batch.drop_columns(["headers"]), SINK_SCHEMA)


def test_property_path_rejects_avro_with_reference_message():
    """Reference parity: the property surface lists only the reference's four
    formats (S3SinkConfigTest.java:772-782); avro is Python-API-only."""
    with pytest.raises(ConfigValidationError) as e:
        EngineConfig.from_properties(
            {"aws.s3.bucket.name": "b", "format.output.type": "avro"}
        )
    assert "supported values are: 'csv', 'json', 'jsonl', 'parquet'" in str(e.value)


def _rows():
    return [
        Row(topic="t", partition=p, offset=p * 100 + i, key=f"key-{i}",
            value=f"value-{p}-{i}", timestamp=1000 + i, headers=None)
        for p in (0, 1) for i in range(3)
    ]


@pytest.mark.parametrize(
    "compression",
    [CompressionType.NONE, CompressionType.GZIP,
     CompressionType.SNAPPY, CompressionType.ZSTD],
)
def test_write_batch_avro_exact_names_and_contents(spark, tmp_path, compression):
    """Grouped OCF write: exact template names with NO compression suffix
    (codec is internal, like parquet), offset order within each object, sync
    marker = md5(name) — and a replay writes byte-identical objects."""
    cfg = EngineConfig(
        format_type=FormatType.AVRO,
        file_compression=compression,
        output_fields=(OutputField.KEY, OutputField.VALUE, OutputField.OFFSET,
                       OutputField.TIMESTAMP, OutputField.HEADERS),
    )
    df = spark.createDataFrame(_rows(), KAFKA_RECORD_SCHEMA)
    written = write_batch(df, cfg, str(tmp_path))
    assert written == [("t-0-0", 3), ("t-1-100", 3)]
    first = {}
    for name, _ in written:
        data = (tmp_path / name).read_bytes()
        first[name] = data
        schema, recs = A.read_ocf(data)
        assert data[4:].find(hashlib.md5(name.encode()).digest()) != -1
        assert [r["offset"] for r in recs] == sorted(r["offset"] for r in recs)
        assert {f["name"] for f in schema["fields"]} == {
            "key", "value", "offset", "timestamp", "headers"
        }
    write_batch(df, cfg, str(tmp_path))  # at-least-once replay
    for name, _ in written:
        assert (tmp_path / name).read_bytes() == first[name]


def test_write_batch_avro_binary_and_headers(spark, tmp_path):
    rows = [
        Row(topic="t", partition=0, offset=0, key=b"\x00\x01", value=b"\xff",
            timestamp=None, headers=[Row(key="h1", value=b"v1"),
                                     Row(key="h1", value=None)]),
    ]
    cfg = EngineConfig(
        format_type=FormatType.AVRO,
        file_compression=CompressionType.NONE,
        output_fields=(OutputField.KEY, OutputField.VALUE, OutputField.OFFSET,
                       OutputField.TIMESTAMP, OutputField.HEADERS),
    )
    df = spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA_BINARY)
    write_batch(df, cfg, str(tmp_path))
    _, recs = A.read_ocf((tmp_path / "t-0-0").read_bytes())
    assert recs == [{
        "key": b"\x00\x01", "value": b"\xff", "offset": 0, "timestamp": None,
        "headers": [{"key": "h1", "value": b"v1"}, {"key": "h1", "value": None}],
    }]


def test_readback_avro_roundtrip_and_route(spark, tmp_path):
    """write → read_sink_objects: every record comes back with its envelope
    types and name-derived grouping columns; a corrupt object routes to one
    decode_error row instead of killing the scan."""
    cfg = EngineConfig(
        format_type=FormatType.AVRO,
        file_compression=CompressionType.ZSTD,
        output_fields=(OutputField.KEY, OutputField.OFFSET,
                       OutputField.TIMESTAMP, OutputField.VALUE),
    )
    df = spark.createDataFrame(_rows(), KAFKA_RECORD_SCHEMA)
    write_batch(df, cfg, str(tmp_path))

    back = read_sink_objects(
        spark, str(tmp_path), cfg, binary_payloads=False
    ).orderBy("object_name", "line_no")
    rows = back.collect()
    assert len(rows) == 6
    assert rows[0].topic == "t" and rows[0].partition == 0
    assert rows[0].start_offset == 0
    assert [r.offset for r in rows] == [0, 1, 2, 100, 101, 102]
    assert rows[0].key == "key-0" and rows[0].value == "value-0-0"
    assert rows[0].timestamp == 1000

    # corrupt one object mid-block; route policy isolates it
    victim = tmp_path / "t-0-0"
    data = bytearray(victim.read_bytes())
    data[-3] ^= 0xFF
    victim.write_bytes(bytes(data))
    routed = read_sink_objects(
        spark, str(tmp_path), cfg, binary_payloads=False, on_error="route"
    )
    bad = routed.filter("decode_error is not null").collect()
    good = routed.filter("decode_error is null").collect()
    assert len(bad) == 1 and bad[0].object_name == "t-0-0"
    assert "sync marker" in bad[0].decode_error
    assert len(good) == 3  # the healthy object's records survive
    with pytest.raises(Exception):
        read_sink_objects(
            spark, str(tmp_path), cfg, binary_payloads=False
        ).collect()
