"""Output-field projection, encoding, and record-line rendering.

Re-expresses the reference's per-record output pipeline — ordered field
projection (``S3SinkConfig.java:815-838``, used ``S3SinkTask.java:137``),
base64/none key+value encoding (``S3SinkConfig.java:827-844``, spec
``README.md:240-250``), CSV null→empty (``README.md:251-257``), CSV header
serialization ``b64(k):b64(v);…`` (round-trip ``S3SinkTaskTest.java:855-866``),
JSONL/JSON object rendering with envelope unwrap (``S3SinkTaskTest.java:636-682``)
— as pure Column expressions: everything stays in whole-stage codegen, no Python
in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connector_s3_sink_spark.config import (
    EngineConfig,
    FieldEncoding,
    FormatType,
    OutputField,
)

ENCODABLE_FIELDS = {OutputField.KEY, OutputField.VALUE}


class SchemaTypeError(ValueError):
    """Schema-type contract violation at flush time (≙ the reference's
    ConnectException from the CSV fields writer, S3SinkTaskTest.java:474-498)."""


def base64_std(col: Column) -> Column:
    """Standard (RFC 4648) base64 of a binary column — NO line wrapping.

    Spark's ``base64`` emits MIME-chunked output (CRLF every 76 chars), which
    would inject raw line breaks into CSV for any payload ≥ 57 bytes and break
    the one-record-per-line contract; the reference uses Java's standard
    encoder (no chunking). Stripping the CRLFs restores the standard encoding
    exactly (caught by the seeded-fuzz round-trip test)."""
    return F.regexp_replace(F.base64(col), "[\\r\\n]", "")


def encoded_field(
    field: OutputField, config: EngineConfig, schema: T.StructType | None = None
) -> Column:
    """Field column as it appears in CSV output: key/value base64-encoded (or raw
    with encoding=none), offset/timestamp numeric, headers serialized; null → ''.

    ``schema`` (the record DataFrame's schema) drives binary handling: a
    ``BinaryType`` key/value (the Kafka source's native ByteArrayConverter
    shape) is encoded as-is, a string column encodes its UTF-8 bytes — both
    produce the same base64 for the same payload bytes."""
    if field in ENCODABLE_FIELDS:
        col = F.col(field.value)
        as_bytes = col if _is_binary(field, schema) else F.encode(col, "UTF-8")
        if config.value_encoding is FieldEncoding.BASE64:
            rendered = base64_std(as_bytes)
        else:
            # encoding=none renders the payload characters; binary decodes as
            # UTF-8 (Spark's binary→string cast)
            rendered = col.cast("string")
        return F.coalesce(rendered, F.lit(""))
    if field is OutputField.HEADERS:
        return F.coalesce(headers_csv_column(), F.lit(""))
    # offset / timestamp: numeric, null timestamp → empty string
    return F.coalesce(F.col(field.value).cast("string"), F.lit(""))


def _is_binary(field: OutputField, schema: T.StructType | None) -> bool:
    if schema is None or field.value not in schema.fieldNames():
        return False
    return isinstance(schema[field.value].dataType, T.BinaryType)


def schema_type_name(dtype: T.DataType, converter: str) -> str:
    """Connect schema-type name declared by a Spark column type + converter:
    BinaryType is always BYTES; a string column is the UTF-8 view of BYTES
    under the (default) ByteArrayConverter, STRING under StringConverter."""
    if isinstance(dtype, T.BinaryType):
        return "BYTES"
    if isinstance(dtype, T.StringType):
        return "BYTES" if converter == "bytes" else "STRING"
    if isinstance(dtype, T.StructType):
        return "STRUCT"
    return dtype.simpleString().upper()


def enforce_csv_schema_types(schema: T.StructType, config: EngineConfig) -> None:
    """The CSV fields writer accepts only BYTES key/value — exact reference
    behavior and message ("Record value schema type must be BYTES, STRING
    given", S3SinkTaskTest.java:474-498 / STRUCT :554-578). JSONL/JSON/parquet
    accept STRING and STRUCT, so only the CSV path calls this."""
    if config.format_type is not FormatType.CSV:
        return
    converters = {
        OutputField.KEY: config.key_converter,
        OutputField.VALUE: config.value_converter,
    }
    for field in config.output_fields:
        if field not in ENCODABLE_FIELDS or field.value not in schema.fieldNames():
            continue
        declared = schema_type_name(schema[field.value].dataType, converters[field])
        if declared != "BYTES":
            raise SchemaTypeError(
                f"Record {field.value} schema type must be BYTES, {declared} given"
            )


def headers_csv_column(headers: Column | None = None) -> Column:
    """Headers → ``b64(key):b64(value)`` pairs joined by ``;`` in one CSV column
    (round-trip parser S3SinkTaskTest.java:855-866)."""
    h = headers if headers is not None else F.col("headers")
    return F.array_join(
        F.transform(
            h,
            lambda e: F.concat(
                base64_std(F.encode(e["key"], "UTF-8")),
                F.lit(":"),
                base64_std(e["value"]),
            ),
        ),
        ";",
    )


def csv_line_column(config: EngineConfig, schema: T.StructType | None = None) -> Column:
    """One CSV record line: configured fields comma-joined in order, no quoting
    (the reference writes raw comma-joined fields — Spark's csv writer would add
    quoting the reference doesn't do, SURVEY.md §2.4)."""
    parts = [encoded_field(f, config, schema) for f in config.output_fields]
    return F.concat_ws(",", *parts)


def json_object_column(
    config: EngineConfig, schema: T.StructType | None = None
) -> Column:
    """One JSON object (JSONL line / JSON array element) with fields in configured
    order. Envelope unwrap: with a single output field and envelope=False the
    ``{"value": …}`` wrapper is dropped (S3SinkTask.java:138, golden
    S3SinkTaskTest.java:636-682). String values that hold JSON documents are
    inlined as JSON (the reference's JsonConverter path), not re-quoted.
    """
    if not config.envelope and len(config.output_fields) == 1:
        return _json_value(config.output_fields[0], schema)
    pairs: list[Column] = []
    for f in config.output_fields:
        pairs.append(F.concat(F.lit(f'"{f.value}":'), _json_value(f, schema)))
    return F.concat(F.lit("{"), F.concat_ws(",", *pairs), F.lit("}"))


def _json_value(field: OutputField, schema: T.StructType | None = None) -> Column:
    """JSON-rendered value of one output field (null → JSON null)."""
    col = F.col(field.value)
    if field in (OutputField.OFFSET, OutputField.TIMESTAMP):
        return F.coalesce(col.cast("string"), F.lit("null"))
    if field is OutputField.HEADERS:
        return F.coalesce(F.to_json(col), F.lit("null"))
    if field in ENCODABLE_FIELDS and _is_binary(field, schema):
        # byte[] payloads serialize as a base64 JSON string (Jackson's byte[]
        # contract); base64 output never needs escaping
        return F.coalesce(
            F.concat(F.lit('"'), base64_std(col), F.lit('"')), F.lit("null")
        )
    if (
        field in ENCODABLE_FIELDS
        and schema is not None
        and field.value in schema.fieldNames()
        and isinstance(schema[field.value].dataType, T.StructType)
    ):
        # schema'd (JsonConverter-style) struct value serializes as its JSON
        # document
        return F.coalesce(F.to_json(col), F.lit("null"))
    # key/value: if the payload itself is a single-line JSON document
    # (object/array) that actually PARSES, inline it verbatim; otherwise emit
    # a JSON string literal. The parse gate (try_parse_json) matters: a
    # JSON-lookalike such as '{oops' inlined verbatim would produce a
    # syntactically invalid output line, which the reference's Jackson-based
    # writer can never do. A MULTI-line JSON document is escaped as a string
    # rather than inlined — verbatim inlining would inject raw newlines and
    # break the one-record-per-line contract (deviation: the reference
    # re-serializes parsed values through Jackson, which normalizes
    # whitespace; without the payload's schema we preserve bytes instead of
    # reformatting).
    is_json_doc = (
        col.rlike(r"^\s*[\[{]")
        & ~col.contains("\n")
        & ~col.contains("\r")
        & F.try_parse_json(col).isNotNull()
    )
    return F.coalesce(
        F.when(is_json_doc, col).otherwise(json_string_literal(col)),
        F.lit("null"),
    )


def json_string_literal(col: Column) -> Column:
    """Escape a string column into a quoted JSON string literal via Spark's own
    Jackson writer (``to_json`` of a one-field struct, wrapper sliced off) —
    full escaping including every control character < 0x20, exactly the
    escaping the reference's Jackson-based writer produces. A hand-rolled
    regexp chain missed raw control bytes and emitted invalid JSON lines
    (caught by the adversarial-string suite)."""
    wrapped = F.to_json(F.struct(col.alias("v")))  # {"v":"<escaped>"}
    return F.when(
        col.isNotNull(), wrapped.substr(F.lit(6), F.length(wrapped) - 6)
    )
