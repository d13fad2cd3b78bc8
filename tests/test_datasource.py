"""Spark 4 Python Data Source wrapper (`spark.read.format("sink_objects")`)
over sink output — one InputPartition per object, SQL-reachable via
CREATE TABLE ... USING."""

import pytest
from pyspark.sql import Row

from kafka_connector_s3_sink_spark.config import (
    CompressionType,
    EngineConfig,
    FieldEncoding,
    FormatType,
    OutputField,
)
from kafka_connector_s3_sink_spark.records import KAFKA_RECORD_SCHEMA
from kafka_connector_s3_sink_spark.sinks.writer import write_batch
from kafka_connector_s3_sink_spark.sources.datasource import SinkObjectsDataSource


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(SinkObjectsDataSource)
    return spark


def _rows(n=6):
    return [
        Row(topic="t", partition=i % 2, offset=100 + i, key=f"k{i}",
            value=f"v{i}", timestamp=1000 + i, headers=None)
        for i in range(n)
    ]


def records_df(spark, rows):
    return spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)


def test_format_read_csv_gzip(registered, spark, tmp_path):
    cfg = EngineConfig(
        output_fields=(OutputField.OFFSET, OutputField.KEY, OutputField.VALUE),
        file_max_records=2,
        file_compression=CompressionType.GZIP,
    )
    write_batch(records_df(spark, _rows()), cfg, str(tmp_path))
    df = (
        spark.read.format("sink_objects")
        .option("path", str(tmp_path))
        .option("fields", "offset,key,value")
        .load()
    )
    got = {r["offset"]: r for r in df.collect()}
    assert len(got) == 6
    assert bytes(got[103]["value"]) == b"v3" and bytes(got[103]["key"]) == b"k3"
    assert (got[103]["topic"], got[103]["partition"]) == ("t", 1)
    # one partition per object: chunks of 2 per (topic, partition) over
    # offsets 100,102,104 / 101,103,105 -> 4 objects
    assert df.rdd.getNumPartitions() == 4


def test_format_read_jsonl_via_sql(registered, spark, tmp_path):
    cfg = EngineConfig(
        format_type=FormatType.JSONL,
        output_fields=(OutputField.OFFSET, OutputField.VALUE),
        file_compression=CompressionType.NONE,
    )
    write_batch(records_df(spark, _rows(3)), cfg, str(tmp_path))
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW sink_view
            USING sink_objects
            OPTIONS (
              path '{tmp_path}', format 'jsonl', compression 'none',
              fields 'offset,value'
            )"""
    )
    rows = spark.sql(
        "SELECT offset, value FROM sink_view ORDER BY offset"
    ).collect()
    assert [(r["offset"], r["value"]) for r in rows] == [
        (100, "v0"), (101, "v1"), (102, "v2"),
    ]


def test_stream_reader_zstd_two_epochs(registered, spark, tmp_path):
    """spark.readStream.format('sink_objects') streams the compressions the
    JVM file source can't (zstd): first availableNow pass drains epoch 1,
    new objects land, the restarted stream (same checkpoint) emits ONLY the
    new rows — the seen-name offset is the exactly-once cursor."""
    cfg = EngineConfig(
        output_fields=(OutputField.OFFSET, OutputField.VALUE),
        file_compression=CompressionType.ZSTD,
    )
    write_batch(records_df(spark, _rows(3)), cfg, str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("sink_objects")
            .option("path", str(tmp_path / "store"))
            .option("fields", "offset,value")
            .option("compression", "zstd")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    first = {r["offset"] for r in spark.read.parquet(out).collect()}
    assert first == {100, 101, 102}

    write_batch(
        records_df(
            spark,
            [Row(topic="t2", partition=0, offset=7, key=None, value="late",
                 timestamp=1, headers=None)],
        ),
        cfg,
        str(tmp_path / "store"),
    )
    drain()
    allrows = spark.read.parquet(out).collect()
    # restart from the checkpoint emitted ONLY the new object's rows
    assert {r["offset"] for r in allrows} == {100, 101, 102, 7}
    late = [r for r in allrows if r["offset"] == 7]
    assert len(late) == 1 and bytes(late[0]["value"]) == b"late"
    assert late[0]["topic"] == "t2"


def test_stream_reader_reads_in_tasks(registered, spark, tmp_path):
    """r6: the partition-planning DataSourceStreamReader plans ONE
    InputPartition per new object — the microbatch arrives with exactly
    that many RDD partitions, i.e. object bytes are read in executor tasks,
    not materialized on the driver."""
    cfg = EngineConfig(
        output_fields=(OutputField.OFFSET, OutputField.VALUE),
        file_max_records=1,
        file_compression=CompressionType.SNAPPY,
    )
    write_batch(records_df(spark, _rows(3)), cfg, str(tmp_path / "store"))
    seen = {}

    def capture(batch_df, batch_id):
        seen[batch_id] = (
            batch_df.rdd.getNumPartitions(),
            batch_df.count(),
        )

    q = (
        spark.readStream.format("sink_objects")
        .option("path", str(tmp_path / "store"))
        .option("fields", "offset,value")
        .option("compression", "snappy")
        .load()
        .writeStream.foreachBatch(capture)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # 3 records, file_max_records=1 -> 3 objects -> 3 partitions in one batch
    assert sum(n for n, _ in seen.values()) == 3
    assert sum(c for _, c in seen.values()) == 3


def test_sidecar_manifest_store_roundtrips(registered, spark, tmp_path):
    """r6 regression (ADVICE medium): a store written with manifest='sidecar'
    holds `_manifest/part-*.jsonl` shards beside the data objects; listing()
    must hide any '_'/'.'-led path COMPONENT (Spark's hidden-path rule), so
    the DataSource plans partitions over data objects ONLY — previously the
    gzip config died decompressing the manifest shard."""
    from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage

    cfg = EngineConfig(
        output_fields=(OutputField.OFFSET, OutputField.VALUE),
        file_compression=CompressionType.GZIP,
    )
    write_batch(records_df(spark, _rows(4)), cfg, str(tmp_path),
                manifest="sidecar")
    names = ObjectStorage(str(tmp_path)).listing()
    assert names and not any("_manifest" in n for n in names)
    df = (
        spark.read.format("sink_objects")
        .option("path", str(tmp_path))
        .option("fields", "offset,value")
        .load()
    )
    assert {r["offset"] for r in df.collect()} == {100, 101, 102, 103}


def test_json_binary_payloads_option(registered, spark, tmp_path):
    """r6 (ADVICE low): binary_payloads=true on the JSONL branch decodes the
    sink's base64 key/value strings back to BinaryType, agreeing with
    read_sink_objects(binary_payloads=True) on the same store; the default
    stays the faithful string read-back."""
    from kafka_connector_s3_sink_spark.records import KAFKA_RECORD_SCHEMA_BINARY

    cfg = EngineConfig(
        format_type=FormatType.JSONL,
        output_fields=(OutputField.OFFSET, OutputField.KEY, OutputField.VALUE),
        file_compression=CompressionType.NONE,
    )
    payload = bytes([0x00, 0xFF, 0xFE, 0x01])  # non-UTF-8: b64 is mandatory
    rows = [
        Row(topic="b", partition=0, offset=100 + i, key=f"k{i}".encode(),
            value=payload, timestamp=1000 + i, headers=None)
        for i in range(3)
    ]
    write_batch(
        spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA_BINARY),
        cfg,
        str(tmp_path),
    )
    base = (
        spark.read.format("sink_objects")
        .option("path", str(tmp_path))
        .option("format", "jsonl")
        .option("compression", "none")
        .option("fields", "offset,key,value")
    )
    import base64 as b64
    default = {r["offset"]: r for r in base.load().collect()}
    assert default[101]["value"] == b64.b64encode(payload).decode()
    binary = {
        r["offset"]: r
        for r in base.option("binary_payloads", "true").load().collect()
    }
    assert bytes(binary[101]["value"]) == payload
    assert bytes(binary[101]["key"]) == b"k1"
    assert binary.keys() == default.keys()


def test_filter_pushdown_prunes_objects(registered, spark, tmp_path):
    """Predicates on name-derived columns prune whole objects at planning
    time: topic equality + a start_offset bound leaves exactly one of four
    partitions, and results stay correct."""
    cfg = EngineConfig(
        output_fields=(OutputField.OFFSET, OutputField.VALUE),
        file_max_records=2,
        file_compression=CompressionType.GZIP,
    )
    write_batch(records_df(spark, _rows(6)), cfg, str(tmp_path))
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        base = (
            spark.read.format("sink_objects")
            .option("path", str(tmp_path))
            .option("fields", "offset,value")
            .option("pushdown", "true")
            .load()
        )
        assert base.rdd.getNumPartitions() == 4
        pruned = base.filter(
            (base.partition == 1) & (base.start_offset >= 105)
        )
        # planning-time pruning: only t-1-105.gz survives
        assert pruned.rdd.getNumPartitions() == 1
        rows = pruned.collect()
        assert {r["offset"] for r in rows} == {105}
        assert bytes(rows[0]["value"]) == b"v5"
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")


def test_on_error_route_survives_poison_object(registered, spark, tmp_path):
    """r6: on_error=route gives the format API the fast path's poison-object
    posture — the corrupt object yields one decode_error row (name-derived
    columns intact), healthy objects read normally, and the default still
    fails fast."""
    cfg = EngineConfig(
        output_fields=(OutputField.OFFSET, OutputField.VALUE),
        file_max_records=2,
        file_compression=CompressionType.GZIP,
    )
    write_batch(records_df(spark, _rows(4)), cfg, str(tmp_path))
    (tmp_path / "t-0-102.gz").write_bytes(b"not gzip at all")
    def base():
        return (
            spark.read.format("sink_objects")
            .option("path", str(tmp_path))
            .option("fields", "offset,value")
        )

    routed = base().option("on_error", "route").load().collect()
    errs = [r for r in routed if r["decode_error"] is not None]
    good = [r for r in routed if r["decode_error"] is None]
    # the 4 real records still read; the foreign poison object adds 1 error row
    assert {r["offset"] for r in good} == {100, 101, 102, 103}
    assert len(errs) == 1
    assert (errs[0]["topic"], errs[0]["partition"], errs[0]["start_offset"]) == (
        "t", 0, 102
    )
    assert errs[0]["offset"] is None and "BadGzipFile" in errs[0]["decode_error"]
    with pytest.raises(Exception):
        base().load().collect()  # default: fail fast


def test_sql_view_with_route_and_binary_options(registered, spark, tmp_path):
    """The CREATE TABLE ... USING path honors the r6 options exactly like
    the reader API: on_error route surfaces decode_error in SQL, and the
    poison row is filterable with plain SQL predicates."""
    cfg = EngineConfig(
        output_fields=(OutputField.OFFSET, OutputField.VALUE),
        file_compression=CompressionType.GZIP,
    )
    write_batch(records_df(spark, _rows(2)), cfg, str(tmp_path))
    (tmp_path / "t-9-0.gz").write_bytes(b"junk")
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW routed_view
            USING sink_objects
            OPTIONS (
              path '{tmp_path}', fields 'offset,value', on_error 'route'
            )"""
    )
    bad = spark.sql(
        "SELECT object_name, partition FROM routed_view "
        "WHERE decode_error IS NOT NULL"
    ).collect()
    assert len(bad) == 1 and bad[0]["partition"] == 9
    good = spark.sql(
        "SELECT count(*) AS n FROM routed_view WHERE decode_error IS NULL"
    ).collect()[0]["n"]
    assert good == 2


# -- r9: the container formats join the format API (r10: + parquet) ----------


@pytest.mark.parametrize("fmt", ["orc", "avro", "parquet"])
def test_format_read_container_roundtrip_with_poison(
    registered, spark, tmp_path, fmt
):
    """ORC, Avro OCF, and parquet sinks read back through
    spark.read.format('sink_objects') — envelope fields typed, name-derived
    columns parsed, one InputPartition per object — and on_error=route
    turns a corrupt container (bad magic/footer) into one decode_error row
    while the healthy objects read normally; the default fails fast.
    Parquet closes the r9 asymmetry: the format the reference features most
    was the only one without poison-object posture in the SQL surface."""
    cfg = EngineConfig(
        format_type=FormatType(fmt),
        output_fields=(OutputField.OFFSET, OutputField.KEY, OutputField.VALUE),
        file_max_records=2,
    )
    store = str(tmp_path / fmt)
    write_batch(records_df(spark, _rows()), cfg, store)

    def base():
        return (
            spark.read.format("sink_objects")
            .option("path", store)
            .option("format", fmt)
            .option("fields", "offset,key,value")
        )

    df = base().load()
    got = {r["offset"]: r for r in df.collect()}
    assert len(got) == 6
    assert bytes(got[103]["value"]) == b"v3" and bytes(got[103]["key"]) == b"k3"
    assert (got[103]["topic"], got[103]["partition"]) == ("t", 1)
    assert df.rdd.getNumPartitions() == 4  # one partition per object
    # binary_payloads=false: same store, string payloads
    sdf = base().option("binary_payloads", "false").load()
    srow = {r["offset"]: r for r in sdf.collect()}[103]
    assert srow["value"] == "v3" and isinstance(srow["value"], str)
    # poison object: structural validation routes, never short rows
    (tmp_path / fmt / "t-0-900").write_bytes(b"definitely not " + fmt.encode())
    routed = base().option("on_error", "route").load().collect()
    errs = [r for r in routed if r["decode_error"] is not None]
    good = [r for r in routed if r["decode_error"] is None]
    assert {r["offset"] for r in good} == {100, 101, 102, 103, 104, 105}
    assert len(errs) == 1
    assert (errs[0]["topic"], errs[0]["partition"], errs[0]["start_offset"]) == (
        "t", 0, 900
    )
    assert errs[0]["offset"] is None and errs[0]["decode_error"]
    with pytest.raises(Exception):
        base().load().collect()  # default: fail fast


def test_stream_reader_container_formats(registered, spark, tmp_path):
    """The streaming form covers the container formats too: an OCF store
    drains via readStream with the seen-name offset cursor."""
    cfg = EngineConfig(
        format_type=FormatType.AVRO,
        output_fields=(OutputField.OFFSET, OutputField.VALUE),
    )
    store = str(tmp_path / "store")
    write_batch(records_df(spark, _rows(3)), cfg, store)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("sink_objects")
        .option("path", store)
        .option("format", "avro")
        .option("fields", "offset,value")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["offset"]: bytes(r["value"]) for r in spark.read.parquet(out).collect()}
    assert rows == {100 + i: f"v{i}".encode() for i in range(3)}


def test_stream_reader_parquet(registered, spark, tmp_path):
    """Parquet streams through the format API too (r10): a parquet sink
    store drains via readStream with the seen-name offset cursor."""
    cfg = EngineConfig(
        format_type=FormatType.PARQUET,
        output_fields=(OutputField.OFFSET, OutputField.VALUE),
    )
    store = str(tmp_path / "store")
    write_batch(records_df(spark, _rows(3)), cfg, store)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("sink_objects")
        .option("path", store)
        .option("format", "parquet")
        .option("fields", "offset,value")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["offset"]: bytes(r["value"]) for r in spark.read.parquet(out).collect()}
    assert rows == {100 + i: f"v{i}".encode() for i in range(3)}


def test_parquet_format_api_parity_with_fast_path(registered, spark, tmp_path):
    """The format API's parquet rows match read_sink_objects (the fast
    path) value-for-value on the same store — including the routed row for
    a corrupt object."""
    from kafka_connector_s3_sink_spark.sources.objects import read_sink_objects

    cfg = EngineConfig(
        format_type=FormatType.PARQUET,
        output_fields=(OutputField.OFFSET, OutputField.KEY, OutputField.VALUE),
        file_max_records=2,
    )
    store = str(tmp_path / "store")
    write_batch(records_df(spark, _rows()), cfg, store)
    (tmp_path / "store" / "t-1-900").write_bytes(b"PAR1 but not really parquet")

    api = (
        spark.read.format("sink_objects")
        .option("path", store)
        .option("format", "parquet")
        .option("fields", "offset,key,value")
        .option("on_error", "route")
        .load()
        .collect()
    )
    fast = read_sink_objects(spark, store, cfg, on_error="route").collect()

    def as_bytes(v):
        if v is None:
            return None
        return v.encode("utf-8") if isinstance(v, str) else bytes(v)

    def norm(rows):
        # the fast path surfaces the envelope's stringified key as a string
        # column; the format API coerces to the declared payload type —
        # compare on content
        return sorted(
            (
                r["object_name"],
                r["offset"],
                as_bytes(r["key"]),
                as_bytes(r["value"]),
                r["decode_error"] is None,
            )
            for r in rows
        )

    assert norm(api) == norm(fast)
    assert sum(1 for r in api if r["decode_error"] is not None) == 1


def test_format_read_avro_headers_map_shape(registered, spark, tmp_path):
    """ADVICE r11 item 3: an OCF object whose envelope stores headers as the
    reference's Avro MAP shape (envelope_avro_schema(headers_as_map=True) —
    decodes to ONE python dict, not a list of {'key','value'} records) reads
    back through the sink_objects datasource as the same (key, value) tuple
    rows the default array-of-records shape yields. Previously only the
    schema-level round-trip was tested; this pins the reader-level
    normalization in _SinkObjectsReader."""
    from kafka_connector_s3_sink_spark.formats import avro as avro_fmt

    store = tmp_path / "mapstore"
    store.mkdir()
    schema = avro_fmt.parse_schema(
        avro_fmt.envelope_avro_schema(headers_as_map=True)
    )
    with open(store / "t-0-100", "wb") as fh:
        w = avro_fmt.OCFWriter(fh, schema)
        w.append(
            {
                "key": b"k0",
                "offset": 100,
                "timestamp": 1000,
                "headers": {"h1": b"v1", "h2": None},
                "value": b"v0",
            }
        )
        w.append(
            {
                "key": b"k1",
                "offset": 101,
                "timestamp": 1001,
                "headers": None,
                "value": b"v1",
            }
        )
        w.close()

    df = (
        spark.read.format("sink_objects")
        .option("path", str(store))
        .option("format", "avro")
        .option("fields", "offset,key,value,headers")
        .load()
    )
    rows = {r["offset"]: r for r in df.collect()}
    assert len(rows) == 2
    got = [(h["key"], bytes(h["value"]) if h["value"] is not None else None)
           for h in rows[100]["headers"]]
    assert got == [("h1", b"v1"), ("h2", None)]
    assert rows[101]["headers"] is None
    assert bytes(rows[100]["value"]) == b"v0"
    assert (rows[100]["topic"], rows[100]["partition"]) == ("t", 0)


def test_csv_encoding_none_binary_payloads(registered, spark, tmp_path):
    """format=csv, encoding=none, binary_payloads=true declares BinaryType
    key/value, so the cells (the payloads' text) read back as their UTF-8
    bytes instead of str values the declared schema rejects."""
    cfg = EngineConfig(
        output_fields=(OutputField.OFFSET, OutputField.KEY, OutputField.VALUE),
        value_encoding=FieldEncoding.NONE,
        file_compression=CompressionType.NONE,
    )
    write_batch(records_df(spark, _rows(4)), cfg, str(tmp_path))
    df = (
        spark.read.format("sink_objects")
        .option("path", str(tmp_path))
        .option("compression", "none")
        .option("encoding", "none")
        .option("fields", "offset,key,value")
        .option("binary_payloads", "true")
        .load()
    )
    got = {r["offset"]: (bytes(r["key"]), bytes(r["value"])) for r in df.collect()}
    assert got == {100 + i: (f"k{i}".encode(), f"v{i}".encode()) for i in range(4)}


_PARITY_CASES = [
    # (format, compression, encoding, binary_payloads)
    ("csv", "gzip", "base64", True),
    ("csv", "none", "none", False),
    ("jsonl", "zstd", "base64", False),
    ("json", "snappy", "base64", False),
    ("avro", "zstd", "base64", True),
    ("avro", "none", "base64", False),
    ("orc", "none", "base64", False),
    ("parquet", "gzip", "base64", False),
]


@pytest.mark.parametrize(
    "fmt,compression,encoding,binary", _PARITY_CASES,
    ids=["-".join(map(str, c)) for c in _PARITY_CASES],
)
def test_format_api_parity_with_fast_path(
    registered, spark, tmp_path, fmt, compression, encoding, binary
):
    """Both read-back APIs decode through one decoder, so on the same store
    read_sink_objects and format('sink_objects') return the same
    (object_name, topic, partition, start_offset, *fields) rows — values
    and types — for every format, with the same binary_payloads choice."""
    from kafka_connector_s3_sink_spark.records import KAFKA_RECORD_SCHEMA_BINARY
    from kafka_connector_s3_sink_spark.sources.objects import read_sink_objects

    fields = ("offset", "key", "value", "timestamp", "headers")
    cfg = EngineConfig(
        format_type=FormatType(fmt),
        file_compression=CompressionType(compression),
        value_encoding=FieldEncoding(encoding),
        output_fields=tuple(OutputField(f) for f in fields),
        file_max_records=2,
    )

    def payload(s):
        # binary cases carry bytes that are not valid UTF-8
        return None if s is None else (s.encode() + b"\xff" if binary else s)

    rows = [
        Row(topic="p-q", partition=i % 2, offset=100 + i,
            key=payload(f"k{i}" if i != 2 else None),
            value=payload(f"v{i}" if i != 3 else None),
            timestamp=1000 + i if i != 4 else None,
            headers=[Row(key="h", value=bytearray(b"x"))] if i == 1 else None)
        for i in range(6)
    ]
    schema = KAFKA_RECORD_SCHEMA_BINARY if binary else KAFKA_RECORD_SCHEMA
    store = str(tmp_path / "store")
    write_batch(spark.createDataFrame(rows, schema), cfg, store)

    cols = ["object_name", "topic", "partition", "start_offset", *fields]
    api = (
        spark.read.format("sink_objects")
        .option("path", store)
        .option("format", fmt)
        .option("compression", compression)
        .option("encoding", encoding)
        .option("fields", ",".join(fields))
        .option("binary_payloads", str(binary).lower())
        .load()
        .select(*cols)
    )
    fast = read_sink_objects(spark, store, cfg, binary_payloads=binary).select(*cols)

    def plain(v):
        if isinstance(v, bytearray):
            return bytes(v)
        if isinstance(v, (list, tuple)):
            return tuple(plain(x) for x in v)
        return v

    def norm(df):
        return sorted(
            (tuple(plain(v) for v in r) for r in df.collect()),
            key=lambda t: (t[0], t[4]),
        )

    assert [f.dataType.simpleString() for f in api.schema.fields] == [
        f.dataType.simpleString() for f in fast.schema.fields
    ]
    got = norm(api)
    assert len(got) == 6
    assert got == norm(fast)
