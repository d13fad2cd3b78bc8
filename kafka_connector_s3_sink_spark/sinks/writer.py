"""Batch object writer: one output object per record group, exactly named by the
filename template (the reference's flush path, ``S3SinkTask.java:121-144``).

Spark-first decomposition:

1. group key + chunk assignment   — Column expressions (grouping.py)
2. per-chunk start offset         — window ``min(offset)`` over group + chunk,
                                    one hash exchange on (topic, partition)
3. line rendering                 — Column expressions, JVM codegen (formats/render.py)
4. distribution                   — ``repartition(filename)`` +
                                    ``sortWithinPartitions(filename, offset)``
5. object write                   — ONE ``mapInArrow`` loop (``_write_objects``)
                                    for every format: per group run of the
                                    arriving Arrow batches it opens the object,
                                    feeds the run's slices to a format encoder,
                                    closes the encoder, calls the ``fault``
                                    hook, commits — or aborts the in-flight
                                    object on any exception — and emits the
                                    manifest (rows to the driver, or a sidecar
                                    shard)

Only step 5 is Python, and it is pure I/O (the bytes were rendered JVM-side).
An encoder is ``encoder(raw, name) -> (append, close)``: ``append`` takes one
group's slice of a batch (its payload columns), ``close`` finishes the object's
bytes into ``raw``. Text (CSV/JSONL/JSON) joins each slice with one C-level
``binary_join`` into a compressed stream, so memory is one compression buffer;
columnar (parquet/ORC) buffers the group's Arrow slices and writes one table;
Avro encodes each slice column by column (numpy over the Arrow buffers) and
frames the encoded rows into OCF blocks. No value round-trips through pickled
Rows. ``sources.warc.write_warc`` writes its crawl archives through the same
loop: one archive per partition, with a WARC record encoder.
Object I/O goes through ``sinks.storage.ObjectStorage`` (pyarrow.fs), so
``dest_dir`` may be a local path, ``file://``, ``s3://``, ``gs://`` or
``hdfs://`` URI; every object commit is atomic (temp+rename, or direct PUT on
object stores) with abort-on-error parity to ``S3OutputStream.java:101-132``.
Idempotence: object names derive from (topic, partition, start_offset) — at-least-once
reprocessing overwrites the same objects (``README.md:101-133``); key-mode later
flushes intentionally overwrite (``README.md:158-170``).

Scale notes: the write shuffles twice — the (topic, partition) exchange of
the chunk and start-offset windows, then ``repartition(filename)``, which
hash-distributes the objects across executors;
a skewed group (one huge topic-partition) maps to one task, which is the
reference's behavior too (one file is inherently one writer) — ``file.max.records``
is the knob that splits it.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.config import CompressionType, EngineConfig, FormatType
from kafka_connector_s3_sink_spark.formats.compression import open_compressed
from kafka_connector_s3_sink_spark.formats.render import record_line_column
from kafka_connector_s3_sink_spark.operators.projection import (
    enforce_csv_schema_types,
)
from kafka_connector_s3_sink_spark.operators.grouping import (
    assign_file_chunks,
    assign_schema_runs,
    last_value_per_key,
)
from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage
from kafka_connector_s3_sink_spark.template import GrouperType, ensure_utc_session


def prepare_with_filenames(
    df: DataFrame, config: EngineConfig, clock: Column | None = None
) -> DataFrame:
    """Records with their deterministic ``_file`` object name attached — the
    one record→object rule, shared by the writer, the dry-run manifest, the
    audit-driven repair path and the oracle gate's sink naming entries.

    Key mode keeps one record per key (last value wins), named by its key.
    Every other mode groups by ``(topic, partition)`` — plus ``_schema_run``
    under parquet schema rotation, so each run of one value schema names its
    own objects (AvroParquetIntegrationTest.java:288-335) — cuts each group
    into ``_chunk``s of ``file_max_records`` records and names every chunk by
    its first offset: a ``min(offset)`` window over group + ``_chunk``.
    Offsets arrive near-sorted per Kafka partition, so its sort is cheap."""
    enforce_csv_schema_types(df.schema, config)
    tpl = config.template
    if tpl.grouper_type is GrouperType.KEY:
        df = last_value_per_key(df)
        start = F.col("offset")
    else:
        group = ["topic", "partition"]
        if config.format_type is FormatType.PARQUET and config.parquet_schema_rotation:
            df = assign_schema_runs(df)
            group.append("_schema_run")
        df = assign_file_chunks(df, config, group)
        start = F.min("offset").over(Window.partitionBy(*group, "_chunk"))
    return df.withColumn(
        "_file",
        tpl.filename_column(
            start_offset=start,
            clock=clock,
            timezone=config.timestamp_timezone,
            prefix=config.prefix,
            extension=config.filename_extension,
        ),
    )


def expected_manifest(
    df: DataFrame, config: EngineConfig, clock: Column | None = None
) -> DataFrame:
    """Dry-run manifest: (object_name, records) the write WOULD produce —
    object names are deterministic functions of the records, so this is
    computable without touching storage. The repair path diffs it against
    the observed store."""
    ensure_utc_session(df.sparkSession)
    return (
        prepare_with_filenames(df, config, clock)
        .groupBy(F.col("_file").alias("object_name"))
        .agg(F.count(F.lit(1)).alias("expected_records"))
    )


def write_batch(
    df: DataFrame,
    config: EngineConfig,
    dest_dir: str,
    clock: Column | None = None,
    manifest: str = "driver",
    storage: ObjectStorage | None = None,
    fault: object | None = None,
    only_objects: DataFrame | None = None,
) -> list[tuple[str, int]]:
    """Write one batch of canonical Kafka records as exactly-named objects under
    ``dest_dir`` (a local path or any ``pyarrow.fs`` URI — ``file://``,
    ``s3://``, ``hdfs://``). Returns [(object_name, record_count)] sorted by
    name. ``storage`` overrides the default ``ObjectStorage(dest_dir)``
    (e.g. to force a commit mode); ``fault`` is a picklable callable
    ``fault(object_name)`` invoked mid-write before each object commits —
    test hook for the abort-on-error contract (a raised exception must leave
    no partial object, ``S3OutputStreamTest``'s abort semantics).

    ``clock`` injects a fixed timestamp for the {{timestamp}} template variable
    (tests; the reference's own tests race midnight, IntegrationTest.java:246-258).

    ``only_objects`` (a one-column DataFrame of object names) restricts the
    write to that subset of groups — the audit-driven repair path: names are
    deterministic, so rewriting a group reproduces it, and untouched groups
    cost no I/O (their rows drop before rendering/shuffle).

    ``manifest`` controls where the per-object manifest goes. ``"driver"``
    (default) collects one (name, count) tuple per OBJECT — never data rows —
    which is fine until a batch writes millions of objects (file.max.records=1
    at 100 TB). ``"sidecar"`` keeps the manifest distributed: each task appends
    its entries to ``dest_dir/_manifest/part-<pid>.jsonl`` and no per-object
    row reaches the driver (returns []). Sidecar shards are written by the same
    task that wrote the objects, so a task retry rewrites both identically
    (same names, same contents — idempotent like the objects themselves). Any
    other value raises ``ValueError``.
    """
    if manifest not in ("driver", "sidecar"):
        raise ValueError(f"unknown manifest mode {manifest!r}")
    ensure_utc_session(df.sparkSession)
    if storage is None:
        storage = ObjectStorage(dest_dir)
    prepared = prepare_with_filenames(df, config, clock)
    if only_objects is not None:
        # repair mode: restrict the write to a given object-name set (the
        # names are deterministic, so rewriting a group reproduces its bytes)
        prepared = prepared.join(
            only_objects.select(F.col(only_objects.columns[0]).alias("_file")),
            "_file",
            "left_semi",
        )

    fmt = config.format_type
    if fmt in (FormatType.PARQUET, FormatType.AVRO, FormatType.ORC):
        payload = [F.col(f.value).alias(f.value) for f in config.output_fields]
    else:
        payload = [record_line_column(config, prepared.schema).alias("_line")]
    ordered = (
        prepared.select(F.col("_file"), *payload, F.col("offset").alias("_ord"))
        .repartition(F.col("_file"))
        .sortWithinPartitions("_file", "_ord")
        .drop("_ord")
    )
    if config.parquet_value_schema is not None and "value" in ordered.columns:
        # schema'd value mode: the envelope's value becomes a TRUE NESTED
        # RECORD (the reference's Avro-record value shape,
        # AvroParquetIntegrationTest.java:136-349, README.md:357-405).
        # Parsed AFTER rotation/chunk assignment, which key on the raw
        # JSON's observed key set — the JSON analog of the embedded
        # Avro-schema identity that drives the reference's rotation.
        ordered = ordered.withColumn(
            "value",
            F.from_json(F.col("value").cast("string"), config.parquet_value_schema),
        )
    if fmt is FormatType.AVRO:
        encoder = _avro_encoder(config, ordered.schema)
    elif fmt in (FormatType.PARQUET, FormatType.ORC):
        encoder = _columnar_encoder(config, ordered.schema)
    else:
        encoder = _text_encoder(config)
    writer = _write_objects(storage, encoder, fault, sidecar=manifest == "sidecar")
    rows = ordered.mapInArrow(writer, "object string, records long").collect()
    return sorted((r[0], r[1]) for r in rows)


def _group_runs(batch) -> Iterator[tuple[str, int, int]]:
    """(object_name, start, length) runs of equal ``_file`` (column 0) within
    one Arrow record batch. Rows arrive clustered by filename, so runs are
    contiguous; boundaries come from a vectorized dictionary-encode + diff
    instead of a per-row comparison loop."""
    import numpy as np

    if batch.num_rows == 0:
        return
    di = batch.column(0).dictionary_encode()
    idx = di.indices.to_numpy(zero_copy_only=False)
    uniq = di.dictionary.to_pylist()
    cuts = (np.nonzero(np.diff(idx))[0] + 1).tolist()
    starts = [0] + cuts
    ends = cuts + [len(idx)]
    for s, e in zip(starts, ends):
        yield uniq[idx[s]], s, e - s


def _write_objects(storage: ObjectStorage, encoder, fault=None, sidecar: bool = False):
    """``mapInArrow`` body for every format — the reference's flush contract
    (``S3SinkTask.java:121-144``) written once.

    Rows arrive clustered by ``_file`` (column 0) and offset-sorted. Each new
    name opens its object with ``storage.open_output`` and builds an encoder
    over the raw stream; every run of the name then appends its batch slice
    (the payload columns after ``_file``). A group may span batches, so the
    object stays open until the next name arrives or the input ends. Then
    the encoder closes, ``fault(name)`` runs (test hook — a raise must leave
    no partial object, ``S3OutputStreamTest``) and the object commits. Any
    exception aborts the in-flight object, so no partial bytes are ever
    visible under its final name (``S3OutputStream.java:101-132``).

    The manifest is one (object, records) row per object, all in one batch
    per task. With ``sidecar`` the same entries go to a
    ``_manifest/part-<pid>.jsonl`` shard instead, committed after the task's
    objects through the same storage client (any pyarrow.fs backend; a task
    retry rewrites both identically), and the task yields a zero-row batch,
    so nothing per object reaches the driver."""

    def run(batches) -> Iterator:
        import json

        import pyarrow as pa

        names: list[str] = []
        counts: list[int] = []
        out = close = None  # in-flight object's storage context + encoder close

        def commit():
            nonlocal out
            close()
            if fault is not None:
                fault(names[-1])
            done, out = out, None
            done.__exit__(None, None, None)  # commit (rename / complete upload)

        try:
            for batch in batches:
                payload = pa.RecordBatch.from_arrays(
                    batch.columns[1:], names=batch.schema.names[1:]
                )
                for name, start, length in _group_runs(batch):
                    if not names or name != names[-1]:
                        if out is not None:
                            commit()
                        cm = storage.open_output(name)
                        raw = cm.__enter__()  # a failed open has nothing to abort
                        out = cm
                        append, close = encoder(raw, name)
                        names.append(name)
                        counts.append(0)
                    append(payload.slice(start, length))
                    counts[-1] += length
            if out is not None:
                commit()
        except BaseException as e:
            if out is not None:  # abort: delete temp / never complete final
                out.__exit__(type(e), e, e.__traceback__)
            raise
        if sidecar:
            if names:
                from pyspark import TaskContext

                pid = TaskContext.get().partitionId()
                storage.write_bytes(
                    f"_manifest/part-{pid:05d}.jsonl",
                    "".join(
                        json.dumps({"object": n, "records": c}) + "\n"
                        for n, c in zip(names, counts)
                    ).encode(),
                )
            names, counts = [], []
        yield pa.RecordBatch.from_arrays(
            [pa.array(names, type=pa.string()), pa.array(counts, type=pa.int64())],
            names=["object", "records"],
        )

    return run


# Codec names inside the container formats, per CompressionType. ORC and Avro
# have no gzip codec; both take the same DEFLATE stream (zlib / deflate).
_CODECS = {  #            parquet   ORC             Avro
    CompressionType.NONE: ("none", "uncompressed", "null"),
    CompressionType.GZIP: ("gzip", "zlib", "deflate"),
    CompressionType.SNAPPY: ("snappy", "snappy", "snappy"),
    CompressionType.ZSTD: ("zstd", "zstd", "zstandard"),
}
_CODEC_COLUMN = {FormatType.PARQUET: 0, FormatType.ORC: 1, FormatType.AVRO: 2}


def _codec(config: EngineConfig) -> str:
    return _CODECS[config.file_compression][_CODEC_COLUMN[config.format_type]]


def _text_encoder(config: EngineConfig):
    """CSV/JSONL/JSON: each slice of rendered ``_line`` strings is joined
    with ONE C-level ``binary_join`` (an Arrow string column is a contiguous
    buffer + offsets, so no row is touched from Python) and written into the
    compressed stream in one call — memory is O(compression buffer + one
    batch), never O(group). JSON frames a group as one array,
    "[\\n" + ",\\n".join(lines) + "\\n]\\n", across any batch split."""
    compression = config.file_compression
    json_array = config.format_type is FormatType.JSON

    def encoder(raw, name):
        import pyarrow as pa
        import pyarrow.compute as pc

        stream = open_compressed(raw, compression)
        lead = b"[\n"  # JSON: the array opener, then the continuation separator

        def append(rows):
            nonlocal lead
            lines = rows.column(0)
            joined = pc.binary_join(
                pa.ListArray.from_arrays(
                    pa.array([0, len(lines)], type=pa.int32()), lines
                ),
                ",\n" if json_array else "\n",
            )[0].as_py().encode()
            if json_array:
                stream.write(lead)
                stream.write(joined)
                lead = b",\n"
            else:
                stream.write(joined + b"\n")

        def close():
            if json_array:
                stream.write(b"\n]\n")
            stream.close()  # flush the compressed tail into the raw stream

        return append, close

    return encoder


def _columnar_encoder(config: EngineConfig, schema):
    """parquet, and ORC via ``pyarrow.orc``: a columnar container needs the
    whole row group anyway, so the group's Arrow slices are buffered and
    written as one table in the reference's envelope column order
    (README.md:357-405); ``file.max.records`` chunking bounds the buffer.

    ``schema`` is the Spark schema of the writer's input (``_file`` + the
    envelope fields). The Arrow schema is derived from it explicitly, so
    all-null groups keep their declared types and nested-struct values
    (``parquet_value_schema`` mode) round-trip losslessly; the buffered
    slices are cast to it and their chunks combined, and no value ever
    round-trips through Python objects."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    arrow_schema = to_arrow_schema(StructType(schema.fields[1:]))
    codec = _codec(config)
    is_orc = config.format_type is FormatType.ORC

    def encoder(raw, name):
        parts: list = []

        def close():
            import pyarrow as pa

            table = pa.Table.from_batches(parts)
            if table.schema != arrow_schema:
                table = table.cast(arrow_schema)
            table = table.combine_chunks()
            if is_orc:
                import pyarrow.orc as pa_orc

                pa_orc.write_table(table, raw, compression=codec)
            else:
                import pyarrow.parquet as pq

                pq.write_table(table, raw, compression=codec)

        return parts.append, close

    return encoder


def _avro_encoder(config: EngineConfig, schema):
    """Avro OCF (engine extension): each slice is encoded column-wise by
    ``formats.avro.encode_rows`` (numpy over the Arrow buffers; only nested
    columns such as ``headers`` go value by value) and framed by
    ``OCFWriter`` into 1000-record blocks that may straddle slices — memory
    is O(slice + block), never O(group). The 16-byte sync marker is
    ``md5(object_name)``, so an at-least-once replay rewrites a
    byte-identical object (README.md:101-133). Compression lives inside the
    container, like parquet — no filename suffix."""
    from pyspark.sql.types import StructType

    from kafka_connector_s3_sink_spark.formats.avro import (
        OCFWriter,
        avro_schema_for_spark,
        encode_rows,
    )

    avro_schema = avro_schema_for_spark(StructType(schema.fields[1:]))
    codec = _codec(config)

    def encoder(raw, name):
        import hashlib

        ocf = OCFWriter(
            raw, avro_schema, codec=codec, sync_marker=hashlib.md5(name.encode()).digest()
        )

        def append(rows):
            ocf.append_encoded(*encode_rows(rows, avro_schema))

        return append, ocf.close

    return encoder
