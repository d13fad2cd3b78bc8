"""Read-back source: sink-written objects → canonical record rows.

The reference is write-only — once objects land on S3, verifying or
re-ingesting them is the user's problem (its integration tests read objects
back with ad-hoc Java readers, ``S3SinkTaskTest.java:811-866``). At 100 TB
that read path IS an analytics job, so this module re-exposes it Spark-first:

- **listing/scan** — ``binaryFile`` datasource (distributed, works on
  ``file:``/``s3a:``/``hdfs:``; hidden ``_``/``.`` prefixed paths such as the
  ``_manifest`` sidecars are excluded by Spark's own file index);
- **object decode** — the one decoder both read-back APIs share:
  ``object_lines`` (text object → record lines, through the write-side
  codecs) and ``object_records`` (Avro OCF / parquet / ORC object → record
  dicts), the ``on_error`` policy (``check_on_error``, ``routed``) and the
  envelope type of each field (``envelope_fields``). Here they run in one
  Arrow-batched ``mapInPandas`` step (``_object_rows``); the
  ``sink_objects`` Python Data Source (``sources.datasource``) calls the
  same functions once per object. Per-task memory is O(one decoded
  object), the bound the writer's ``file.max.records`` sets;
- **typed field parsing** — pure JVM Column expressions (``split`` /
  ``get_json_object`` / ``try_to_binary`` / ``from_json``), so the hot path
  stays in whole-stage codegen; parquet/ORC skip the decoder for Spark's
  native scan;
- **name parsing** — the filename template's regex inverse
  (``FilenameTemplate.parse_pattern``) recovers the grouping variables
  (topic, partition, start_offset | key) that the reference encodes ONLY in
  the object name.

Round-trip caveats (inherent to the reference's formats, not this reader):
CSV renders null and empty string identically (``''``), so both read back as
null; ``encoding=none`` payloads that contained the CSV separator or line
breaks were written ambiguously and cannot be re-split; JSONL values that
were inlined JSON documents read back as their compact JSON text.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connector_s3_sink_spark.config import (
    CompressionType,
    EngineConfig,
    FieldEncoding,
    FormatType,
    OutputField,
)
from kafka_connector_s3_sink_spark.sinks.storage import _split_uri
from kafka_connector_s3_sink_spark.template import GrouperType

_HEADERS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("key", T.StringType(), True),
            T.StructField("value", T.BinaryType(), True),
        ]
    )
)


def envelope_fields(
    fields: tuple[OutputField, ...],
    binary_payloads: bool,
    value_type: T.DataType | None = None,
) -> list[T.StructField]:
    """The read-back type of each output field: key/value binary or string
    per ``binary_payloads`` (``value_type`` overrides value, e.g. a parquet
    value struct), offset/timestamp long, headers
    array<struct<key string, value binary>>."""
    payload = T.BinaryType() if binary_payloads else T.StringType()
    types = {
        OutputField.KEY: payload,
        OutputField.VALUE: value_type or payload,
        OutputField.OFFSET: T.LongType(),
        OutputField.TIMESTAMP: T.LongType(),
        OutputField.HEADERS: _HEADERS_TYPE,
    }
    return [T.StructField(f.value, types[f], True) for f in fields]


def check_on_error(on_error: str) -> None:
    """The poison-object policy (the read-side analog of
    ``errors.tolerance``): ``fail`` propagates a corrupt object's exception;
    ``route`` turns it into one row carrying ``decode_error``."""
    if on_error not in ("fail", "route"):
        raise ValueError(f"on_error must be 'fail' or 'route', got {on_error!r}")


def routed(decode: Callable, arg, on_error: str) -> tuple:
    """``(decode(arg), None)``; under ``on_error="route"`` a raised exception
    becomes ``(None, "<type>: <message>")`` instead."""
    try:
        return decode(arg), None
    except Exception as e:  # noqa: BLE001 — routed per policy
        if on_error == "fail":
            raise
        return None, f"{type(e).__name__}: {e}"


def object_lines(data: bytes, config: EngineConfig) -> list[str]:
    """One text object (CSV / JSONL / JSON array) → its record lines:
    decompressed with the write-side codec and, for the JSON-array format,
    stripped of the frame ``sinks.writer._text_encoder`` writes (a ``[``
    line, element lines with a trailing comma on all but the last, a ``]``
    line)."""
    from kafka_connector_s3_sink_spark.formats.compression import decompress_bytes

    lines = (
        decompress_bytes(bytes(data), config.file_compression)
        .decode("utf-8")
        .splitlines()
    )
    if config.format_type is FormatType.JSON:
        lines = [line.rstrip(",") for line in lines[1:-1]]
    return lines


def object_records(data: bytes, config: EngineConfig) -> list[dict]:
    """One container object (Avro OCF / parquet / ORC) → its records as
    dicts, through the write-side decoders. The container compresses
    internally, so ``config.file_compression`` plays no part. Each decode
    is also the integrity check: ``read_ocf`` verifies every block sync,
    and the parquet/ORC footer parse fails on a truncated or foreign
    object. Headers stored as an Avro map decode to the same list of
    ``{"key", "value"}`` records as the default array shape."""
    import io

    if config.format_type is FormatType.AVRO:
        from kafka_connector_s3_sink_spark.formats.avro import read_ocf

        records = read_ocf(bytes(data))[1]
    elif config.format_type is FormatType.PARQUET:
        import pyarrow.parquet as pq

        records = pq.ParquetFile(io.BytesIO(data)).read().to_pylist()
    else:
        import pyarrow.orc as pa_orc

        records = pa_orc.ORCFile(io.BytesIO(data)).read().to_pylist()
    for rec in records:
        if isinstance(rec.get("headers"), dict):
            rec["headers"] = [
                {"key": k, "value": v} for k, v in rec["headers"].items()
            ]
    return records


def _relative_name(dest_dir: str) -> Column:
    """Object name relative to the sink root, from binaryFile's ``path``.

    ``path`` is fully qualified (``file:/…``, ``s3a://bucket/…``); the scheme
    spelling AND slash count vary by filesystem (``file:/p``, ``file:///p``),
    so strip an ANCHORED prefix: optional scheme, any run of slashes, then
    the scheme-less dest path literally. Anchoring (vs the old
    substring-index on the tail's last occurrence) keeps object paths that
    repeat the dest's tail segment (dest ``/data`` holding ``x/data/y``) and
    bucket-root dests relativizing correctly — a mis-relativized name parses
    to null grouping columns and silently drops out of the delivery audit."""
    import os
    import re as _re

    scheme, rest = _split_uri(dest_dir)
    if scheme is None:
        rest = os.path.abspath(rest)  # binaryFile qualifies relative paths
    rest = rest.strip("/")
    prefix = r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?/*" + _re.escape(rest) + "/+"
    return F.regexp_replace(F.col("path"), prefix, "").alias("object_name")


def _object_rows(
    spark: SparkSession,
    dest_dir: str,
    columns: list[T.StructField],
    decode: Callable[[bytes], list[list]],
    on_error: str,
) -> DataFrame:
    """(object_name, line_no, *columns, decode_error) for every object under
    ``dest_dir``: a ``binaryFile`` scan, then one Arrow-batched
    ``mapInPandas`` step in which ``decode(content)`` turns one object into
    its column lists (one value per record, ``line_no`` its position).
    Per-task memory is O(one decoded object). Under ``on_error="route"`` a
    corrupt object contributes one row, ``line_no`` -1 and every column
    null."""
    schema = T.StructType(
        [
            T.StructField("object_name", T.StringType(), False),
            T.StructField("line_no", T.LongType(), False),
            *columns,
            T.StructField("decode_error", T.StringType(), True),
        ]
    )
    names = [c.name for c in columns]

    def run(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {f: [] for f in schema.fieldNames()}
            for name, content in zip(pdf["object_name"], pdf["content"]):
                cols, error = routed(decode, content, on_error)
                if error is None:
                    line_nos = range(len(cols[0]))
                else:
                    cols, line_nos = [[None]] * len(names), [-1]
                out["object_name"] += [name] * len(line_nos)
                out["line_no"] += line_nos
                for col, values in zip(names, cols):
                    out[col] += values
                out["decode_error"] += [error] * len(line_nos)
            yield pd.DataFrame(out)

    raw = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(dest_dir)
        .select(_relative_name(dest_dir), "content")
    )
    return raw.mapInPandas(run, schema)


def sink_object_lines(
    spark: SparkSession,
    dest_dir: str,
    config: EngineConfig,
    on_error: str = "fail",
) -> DataFrame:
    """(object_name, line_no, line, decode_error) for every record line of
    every text-format object under ``dest_dir`` (``object_lines``), so one
    output row is one record. ``on_error="route"`` survives a corrupt
    object: it contributes one row with ``line`` null and ``decode_error``
    carrying the exception, so a crawl-scale audit keeps going and the dead
    objects are one filter away (see ``check_on_error``)."""
    check_on_error(on_error)
    return _object_rows(
        spark,
        dest_dir,
        [T.StructField("line", T.StringType(), True)],
        lambda data: [object_lines(data, config)],
        on_error,
    )


def _csv_headers(el: Column) -> Column:
    """Invert ``projection.headers_csv_column``: ``b64(k):b64(v);…`` →
    array<struct<key string, value binary>>."""
    return F.transform(
        F.split(el, ";"),
        lambda p: F.struct(
            F.decode(
                F.try_to_binary(F.split_part(p, F.lit(":"), F.lit(1)), F.lit("base64")),
                "UTF-8",
            ).alias("key"),
            F.try_to_binary(
                F.split_part(p, F.lit(":"), F.lit(2)), F.lit("base64")
            ).alias("value"),
        ),
    )


def _csv_fields(config: EngineConfig) -> list[Column]:
    fields = F.split(F.col("line"), ",", -1)
    cols: list[Column] = []
    for i, f in enumerate(config.output_fields):
        el = F.nullif(F.get(fields, i), F.lit(""))
        if f in (OutputField.KEY, OutputField.VALUE):
            if config.value_encoding is FieldEncoding.BASE64:
                cols.append(F.try_to_binary(el, F.lit("base64")).alias(f.value))
            else:
                cols.append(el.alias(f.value))
        elif f is OutputField.HEADERS:
            cols.append(_csv_headers(el).alias(f.value))
        else:  # offset / timestamp
            cols.append(el.try_cast("long").alias(f.value))
    return cols


def _json_fields(config: EngineConfig, binary_payloads: bool) -> list[Column]:
    line = F.col("line")
    if not config.envelope and len(config.output_fields) == 1:
        # unwrapped single-field objects: the line IS the field's JSON value;
        # rewrap so one extraction path handles string literals and documents
        line = F.concat(F.lit('{"'), F.lit(config.output_fields[0].value),
                        F.lit('":'), line, F.lit("}"))
    cols: list[Column] = []
    for f in config.output_fields:
        el = F.get_json_object(line, f"$.{f.value}")
        if f in (OutputField.KEY, OutputField.VALUE):
            if binary_payloads:
                # byte[] payloads were serialized as base64 JSON strings
                cols.append(F.try_to_binary(el, F.lit("base64")).alias(f.value))
            else:
                cols.append(el.alias(f.value))
        elif f is OutputField.HEADERS:
            parsed = F.from_json(
                el,
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("key", T.StringType(), False),
                            T.StructField("value", T.StringType(), True),
                        ]
                    )
                ),
            )
            cols.append(
                F.transform(
                    parsed,
                    lambda h: F.struct(
                        h["key"].alias("key"),
                        F.try_to_binary(h["value"], F.lit("base64")).alias("value"),
                    ),
                ).alias(f.value)
            )
        else:
            cols.append(el.try_cast("long").alias(f.value))
    return cols


def _validate_parquet_objects(
    spark: SparkSession, dest_dir: str, fmt: str = "parquet"
) -> tuple[list[str], list[tuple[str, str]]]:
    """Partition the store's objects into (healthy, [(name, error)]) by
    reading each object's FOOTER (parquet thrift or — ``fmt="orc"`` — the
    ORC tail metadata) in executor tasks (pyarrow through the picklable
    ``ObjectStorage`` client — executors have no py4j gateway). Footer
    metadata is the integrity gate the native scan itself trusts: a
    truncated/overwritten tail or bad magic fails here, one task per batch
    of objects, O(footer bytes) per object. Driver cost is O(objects)
    names — the same order as the listing that planned them."""
    from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage

    storage = ObjectStorage(dest_dir)
    names = storage.listing()
    if not names:
        return [], []

    def footer_rows(name: str) -> int:
        import pyarrow.orc as pa_orc
        import pyarrow.parquet as pq

        # a seekable handle → pyarrow reads ONLY the footer (tail magic +
        # metadata), O(footer bytes) per object even for multi-GB objects;
        # touching the row count makes a lazily-parsed footer materialize
        with storage.open_input_file(name) as f:
            if fmt == "orc":
                return pa_orc.ORCFile(f).nrows
            return pq.ParquetFile(f).metadata.num_rows

    def validate(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            errs = [routed(footer_rows, n, "route")[1] for n in pdf["object_name"]]
            yield pd.DataFrame(
                {"object_name": pdf["object_name"], "decode_error": errs}
            )

    name_df = spark.createDataFrame(
        [(n,) for n in names], "object_name string"
    ).repartition(min(len(names), 32))
    rows = name_df.mapInPandas(
        validate, "object_name string, decode_error string"
    ).collect()
    good = sorted(r["object_name"] for r in rows if r["decode_error"] is None)
    bad = sorted(
        (r["object_name"], r["decode_error"])
        for r in rows
        if r["decode_error"] is not None
    )
    return good, bad


def _name_columns(config: EngineConfig) -> list[Column]:
    """Grouping variables recovered from the object name via the template's
    regex inverse — empty match (a foreign file in the directory) → null."""
    tpl = config.template
    pattern, groups = tpl.parse_pattern(
        prefix=config.prefix, extension=config.filename_extension
    )
    name = F.col("object_name")

    def grp(var: str) -> Column:
        return F.nullif(F.regexp_extract(name, pattern, groups[var]), F.lit(""))

    if tpl.grouper_type is GrouperType.KEY:
        return [grp("key").alias("key_str")]
    cols = [
        grp("topic").alias("topic"),
        grp("partition").try_cast("int").alias("partition"),
        grp("start_offset").try_cast("long").alias("start_offset"),
    ]
    return cols


def stream_sink_objects(
    spark: SparkSession,
    dest_dir: str,
    config: EngineConfig,
    parse_names: bool = True,
    binary_payloads: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming re-ingest: sink output as a LIVE source. Downstream pipelines
    (enrichment, the LLM ingest cascade, replication to another store) chain
    onto a running sink by watching its destination with Spark's native file
    streaming source — new objects become new micro-batch rows, checkpointed
    exactly-once like any other stream.

    The line scan is ``readStream.text`` (one task per object, gzip
    decompressed by Hadoop's built-in codec from the ``.gz`` extension);
    parsing reuses the exact batch-path Column expressions, with the object
    name recovered from ``input_file_name()``. Constraints inherent to the
    streaming source: line formats only (CSV / JSONL — a JSON-array file
    needs whole-file framing; parquet objects stream with
    ``readStream.parquet`` directly), and none/gzip compression (zstd/snappy
    objects need the Arrow codecs of the batch reader — Hadoop ships no
    pure-JVM decoder for them)."""
    if config.format_type not in (FormatType.CSV, FormatType.JSONL):
        raise ValueError(
            "streaming read-back supports line formats (csv/jsonl); "
            f"{config.format_type.value} objects need the batch reader"
        )
    if config.file_compression not in (CompressionType.NONE, CompressionType.GZIP):
        raise ValueError(
            f"streaming read-back cannot decompress {config.file_compression.value} "
            "(no pure-JVM Hadoop codec); use the batch reader"
        )
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = (
        reader.load(dest_dir)
        .withColumn("path", F.input_file_name())
        .select(_relative_name(dest_dir), F.col("value").alias("line"))
    )
    if config.format_type is FormatType.CSV:
        fields = _csv_fields(config)
    else:
        fields = _json_fields(config, binary_payloads)
    out_cols = [F.col("object_name")]
    if parse_names:
        out_cols += _name_columns(config)
    return lines.select(*(out_cols + fields))


def _columns(records: list[dict], names: list[str]) -> list[list]:
    return [[rec.get(n) for rec in records] for n in names]


def read_sink_objects(
    spark: SparkSession,
    dest_dir: str,
    config: EngineConfig,
    parse_names: bool = True,
    binary_payloads: bool = True,
    on_error: str = "fail",
) -> DataFrame:
    """Re-ingest every object the sink wrote under ``dest_dir`` as one row per
    record: (object_name, line_no, [name-derived grouping columns], then the
    configured output fields with canonical types — key/value binary (or
    string for ``encoding=none`` CSV / ``binary_payloads=False`` JSON),
    offset/timestamp long, headers array<struct<key string, value binary>>).

    ``parse_names`` adds the grouping columns recovered from the object name
    (topic / partition / start_offset, or the stringified key in key-mode).
    ``binary_payloads`` mirrors the write side's record schema: True when the
    sink consumed binary key/value (base64 JSON strings / base64 CSV), False
    when it consumed strings. ``on_error="route"`` survives corrupt objects:
    their row carries a ``decode_error`` column (appended to the output) with
    every field null — ``fail`` (default) propagates the task error.

    Parquet/ORC objects take Spark's native scan (``_read_native``); Avro
    and the text formats decode through ``object_records`` /
    ``object_lines`` in one ``mapInPandas`` step, then parse in JVM
    Column expressions.
    """
    check_on_error(on_error)
    if config.format_type in (FormatType.PARQUET, FormatType.ORC):
        return _read_native(spark, dest_dir, config, parse_names, on_error)
    if config.format_type is FormatType.AVRO:
        names = [f.value for f in config.output_fields]
        rows = _object_rows(
            spark,
            dest_dir,
            envelope_fields(config.output_fields, binary_payloads),
            lambda data: _columns(object_records(data, config), names),
            on_error,
        )
        fields = [F.col(n) for n in names]
    else:
        rows = sink_object_lines(spark, dest_dir, config, on_error=on_error)
        if config.format_type is FormatType.CSV:
            fields = _csv_fields(config)
        else:
            fields = _json_fields(config, binary_payloads)
    out_cols = [F.col("object_name"), F.col("line_no")]
    if parse_names:
        out_cols += _name_columns(config)
    if on_error == "route":
        fields = fields + [F.col("decode_error")]
    return rows.select(*(out_cols + fields))


def _read_native(
    spark: SparkSession,
    dest_dir: str,
    config: EngineConfig,
    parse_names: bool,
    on_error: str,
) -> DataFrame:
    """Parquet / ORC objects through Spark's native scan (typed envelope
    columns, internal compression, column pruning) plus the same name
    parsing. ``on_error="route"`` first validates every object's footer in
    executor tasks (``_validate_parquet_objects``) — a corrupt footer would
    otherwise kill the whole scan at planning — then scans only the healthy
    set and appends one ``decode_error`` row per validated-bad object."""
    fmt_name = config.format_type.value
    reader = spark.read.option("recursiveFileLookup", "true")
    if config.parquet_schema_rotation or config.parquet_value_schema:
        # schema-rotated sinks write objects with DIFFERENT value structs
        # per run; a plain read resolves to one file's schema and silently
        # nulls the rest — merge the per-object footers instead (fields
        # absent from an object read back null, Spark's evolution rule)
        reader = reader.option("mergeSchema", "true")
    name_cols: list[Column] = [F.col("object_name")]
    if parse_names:
        name_cols += _name_columns(config)
    field_names = [f.value for f in config.output_fields]
    bad: list[tuple[str, str]] = []
    source: str | list[str] = dest_dir
    if on_error == "route":
        good, bad = _validate_parquet_objects(spark, dest_dir, fmt_name)
        source = [f"{dest_dir.rstrip('/')}/{n}" for n in good]
    if source:
        df = (
            reader.format(fmt_name).load(source)  # str or healthy-name list
            .withColumn("path", F.col("_metadata.file_path"))
            .withColumn("object_name", _relative_name(dest_dir))
            .drop("path")
        )
    else:
        # every object failed validation: no healthy footer types the
        # columns, so key/value fall back to binary (the sink's
        # BYTES-converter shape)
        value_type = (
            T.StructType.fromDDL(config.parquet_value_schema)
            if config.parquet_value_schema
            else None
        )
        df = spark.createDataFrame(
            [],
            T.StructType(
                [T.StructField("object_name", T.StringType(), False)]
                + envelope_fields(config.output_fields, True, value_type)
            ),
        )
    out = df.select(*name_cols, *field_names)
    if on_error != "route":
        return out
    out = out.withColumn("decode_error", F.lit(None).cast("string"))
    if not bad:
        return out
    bad_df = spark.createDataFrame(bad, "object_name string, decode_error string")
    null_fields = [
        F.lit(None).cast(out.schema[n].dataType).alias(n) for n in field_names
    ]
    return out.unionByName(
        bad_df.select(*name_cols, *null_fields, F.col("decode_error"))
    )
