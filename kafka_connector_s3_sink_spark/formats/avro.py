"""Pure-Python Avro binary codec + Spark converter seam.

The reference's most-tested converter path is Avro
(``AvroIntegrationTest.java:135-137`` drives io.confluent.connect.avro.
AvroConverter; the parquet envelope is defined in Avro terms,
``README.md:357-405``). This container ships neither the spark-avro jar nor
the ``avro``/``fastavro`` packages, so the codec is implemented here directly
from the public Apache Avro 1.12 specification (binary encoding chapter):

- int/long: zigzag varint        - float/double: little-endian IEEE 754
- string/bytes: length-prefixed  - boolean: one byte, null: zero bytes
- record: fields in order        - enum: int index into symbols
- array/map: block runs (negative count ⇒ byte-size follows), 0 terminates
- union: long branch index + value; fixed: exactly ``size`` bytes

Confluent wire framing (magic byte 0x00 + 4-byte big-endian schema id before
the Avro body) is stripped when requested — the shape the reference's
AvroConverter consumes.

The row codec (``_encode``/``encode``/``decode``) encodes or decodes one
value at a time; it is the decode side, the fixture encoder and the
reference the sink's encoder is tested against. The sink writes OCF through
the column encoder ``encode_rows``: a whole Arrow slice at once, int/long as
zigzag varints from one numpy byte matrix and string/bytes straight from the
Arrow buffers, with any other column falling back to ``_encode`` per value.

Spark integration (``decode_avro_column``) is Arrow-batched ``mapInPandas``:
Python decodes each payload to a compact JSON document, the JVM parses it
with ``from_json`` against the schema derived by ``spark_type_for`` —
nested-type mapping stays in Catalyst, and ``bytes``/``fixed`` round-trip
losslessly because Spark's JSON reader expects exactly the base64 encoding we
emit for ``BinaryType`` fields.
"""

from __future__ import annotations

import base64
import datetime as _dt
import decimal as _decimal
import io
import json
import struct as _struct
import uuid as _uuid
import zlib
from typing import Any

from kafka_connector_s3_sink_spark.config import CompressionType
from kafka_connector_s3_sink_spark.formats.compression import (
    compress_bytes,
    decompress_bytes,
)

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


class AvroError(ValueError):
    """Malformed schema or payload."""


# ---------------------------------------------------------------------------
# schema handling


def parse_schema(schema_json: str | dict | list) -> Any:
    """Parse and validate an Avro schema (JSON string or already-parsed),
    resolving named-type references into a flat registry."""
    schema = (
        json.loads(schema_json) if isinstance(schema_json, str) else schema_json
    )
    _collect_names(schema, {})
    return schema


def _collect_names(schema: Any, names: dict[str, Any]) -> None:
    if isinstance(schema, str):
        if schema not in _PRIMITIVES and schema not in names:
            raise AvroError(f"unknown type reference {schema!r}")
        return
    if isinstance(schema, list):
        for branch in schema:
            _collect_names(branch, names)
        return
    if not isinstance(schema, dict):
        raise AvroError(f"invalid schema node {schema!r}")
    t = schema.get("type")
    if t in ("record", "enum", "fixed"):
        name = schema.get("name")
        if not name:
            raise AvroError(f"{t} schema requires a name")
        names[name] = schema
    if t == "record":
        for f in schema.get("fields", []):
            _collect_names(f["type"], names)
    elif t == "array":
        _collect_names(schema["items"], names)
    elif t == "map":
        _collect_names(schema["values"], names)
    elif t in ("enum", "fixed"):
        pass
    elif t in _PRIMITIVES:
        pass
    elif isinstance(t, (dict, list)):
        _collect_names(t, names)
    else:
        raise AvroError(f"unsupported schema type {t!r}")


def _resolve(schema: Any, names: dict[str, Any]) -> Any:
    if isinstance(schema, str) and schema in names:
        return names[schema]
    return schema


def _registry(schema: Any) -> dict[str, Any]:
    names: dict[str, Any] = {}
    _collect_names(schema, names)
    return names


# ---------------------------------------------------------------------------
# binary decode


def _read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise AvroError("truncated varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # zigzag


def _read_exact(buf: io.BytesIO, n: int) -> bytes:
    data = buf.read(n)
    if len(data) != n:
        raise AvroError(f"truncated payload: wanted {n} bytes, got {len(data)}")
    return data


def _decode(schema: Any, buf: io.BytesIO, names: dict[str, Any]) -> Any:
    schema = _resolve(schema, names)
    if isinstance(schema, list):  # union
        idx = _read_long(buf)
        if not 0 <= idx < len(schema):
            raise AvroError(f"union branch {idx} out of range")
        return _decode(schema[idx], buf, names)
    if isinstance(schema, dict):
        t = schema["type"]
        if isinstance(t, (dict, list)):
            return _decode(t, buf, names)
        if t == "record":
            return {
                f["name"]: _decode(f["type"], buf, names)
                for f in schema.get("fields", [])
            }
        if t == "enum":
            idx = _read_long(buf)
            symbols = schema["symbols"]
            if not 0 <= idx < len(symbols):
                raise AvroError(f"enum index {idx} out of range")
            return symbols[idx]
        if t == "fixed":
            return _read_exact(buf, int(schema["size"]))
        if t == "array":
            out = []
            while True:
                count = _read_long(buf)
                if count == 0:
                    break
                if count < 0:
                    count = -count
                    _read_long(buf)  # block byte size — decoders may skip it
                for _ in range(count):
                    out.append(_decode(schema["items"], buf, names))
            return out
        if t == "map":
            out_m: dict[str, Any] = {}
            while True:
                count = _read_long(buf)
                if count == 0:
                    break
                if count < 0:
                    count = -count
                    _read_long(buf)
                for _ in range(count):
                    key = _decode("string", buf, names)
                    out_m[key] = _decode(schema["values"], buf, names)
            return out_m
        schema = t  # {"type": "string"} style primitive wrapper
    if schema == "null":
        return None
    if schema == "boolean":
        return _read_exact(buf, 1)[0] != 0
    if schema in ("int", "long"):
        return _read_long(buf)
    if schema == "float":
        return _struct.unpack("<f", _read_exact(buf, 4))[0]
    if schema == "double":
        return _struct.unpack("<d", _read_exact(buf, 8))[0]
    if schema == "bytes":
        return _read_exact(buf, _read_long(buf))
    if schema == "string":
        return _read_exact(buf, _read_long(buf)).decode("utf-8")
    raise AvroError(f"unsupported schema {schema!r}")


def decode(payload: bytes, schema: Any, confluent_framing: bool = False) -> Any:
    """Decode one Avro binary payload against ``schema`` (writer schema).
    With ``confluent_framing`` the 5-byte registry header (magic 0x00 +
    big-endian schema id) is stripped first."""
    buf = io.BytesIO(payload)
    if confluent_framing:
        header = _read_exact(buf, 5)
        if header[0] != 0:
            raise AvroError(f"bad Confluent magic byte {header[0]}")
    names = _registry(schema)
    value = _decode(schema, buf, names)
    if buf.read(1):
        raise AvroError("trailing bytes after Avro payload")
    return value


def decode_confluent(payload: bytes, schemas: dict[int, Any]) -> tuple[int, Any]:
    """Registry-style decode: resolve the payload's 4-byte schema id against
    an id→schema map (the offline stand-in for the reference's Schema
    Registry lookup, AvroIntegrationTest.java:135-137 /
    SchemaRegistryContainer.java — no network in this engine) and decode with
    the matching writer schema. Returns ``(schema_id, value)``."""
    if len(payload) < 5:
        raise AvroError("payload shorter than Confluent framing header")
    if payload[0] != 0:
        raise AvroError(f"bad Confluent magic byte {payload[0]}")
    sid = int.from_bytes(payload[1:5], "big")
    if sid not in schemas:
        raise AvroError(f"schema id {sid} not in registry map {sorted(schemas)}")
    return sid, decode(payload[5:], schemas[sid])


# ---------------------------------------------------------------------------
# binary encode (fixture generation + round-trip tests; same spec chapter)


def _write_long(out: io.BytesIO, value: int) -> None:
    if not -(1 << 63) <= value < (1 << 63):
        # Python ints are unbounded; silently masking would encode garbage
        # that decodes to a different value
        raise AvroError(f"long out of signed-64-bit range: {value}")
    acc = (value << 1) ^ (value >> 63)  # zigzag (Python ints are unbounded)
    acc &= (1 << 70) - 1
    while True:
        byte = acc & 0x7F
        acc >>= 7
        if acc:
            out.write(bytes([byte | 0x80]))
        else:
            out.write(bytes([byte]))
            break


def _encode(value: Any, schema: Any, out: io.BytesIO, names: dict[str, Any]) -> None:
    schema = _resolve(schema, names)
    if isinstance(schema, list):  # union: first matching branch
        for idx, branch in enumerate(schema):
            if _matches(value, branch, names):
                _write_long(out, idx)
                _encode(value, branch, out, names)
                return
        raise AvroError(f"no union branch for {value!r} in {schema!r}")
    if isinstance(schema, dict):
        t = schema["type"]
        if isinstance(t, (dict, list)):
            _encode(value, t, out, names)
            return
        lt = schema.get("logicalType")
        if lt is not None:
            value = _logical_to_raw(value, lt, schema)
        if t == "record":
            for f in schema.get("fields", []):
                _encode(value[f["name"]], f["type"], out, names)
            return
        if t == "enum":
            _write_long(out, schema["symbols"].index(value))
            return
        if t == "fixed":
            if len(value) != int(schema["size"]):
                raise AvroError("fixed size mismatch")
            out.write(value)
            return
        if t == "array":
            if value:
                _write_long(out, len(value))
                for item in value:
                    _encode(item, schema["items"], out, names)
            _write_long(out, 0)
            return
        if t == "map":
            if value:
                _write_long(out, len(value))
                for k, v in value.items():
                    _encode(k, "string", out, names)
                    _encode(v, schema["values"], out, names)
            _write_long(out, 0)
            return
        schema = t
    if schema == "null":
        return
    if schema == "boolean":
        out.write(b"\x01" if value else b"\x00")
        return
    if schema in ("int", "long"):
        _write_long(out, value)
        return
    if schema == "float":
        out.write(_struct.pack("<f", float(value)))  # int→float promotion
        return
    if schema == "double":
        out.write(_struct.pack("<d", float(value)))  # int→double promotion
        return
    if schema == "bytes":
        _write_long(out, len(value))
        out.write(value)
        return
    if schema == "string":
        raw = value.encode("utf-8")
        _write_long(out, len(raw))
        out.write(raw)
        return
    raise AvroError(f"unsupported schema {schema!r}")


# ---------------------------------------------------------------------------
# logical types (Avro spec "Logical Types"; the CDC-stream surface —
# Confluent/Debezium lean on timestamp-millis/micros, date, decimal, uuid)

# microseconds per unit of the annotated long
_TS_LOGICAL = {
    "timestamp-millis": 1_000,
    "timestamp-micros": 1,
    "local-timestamp-millis": 1_000,
    "local-timestamp-micros": 1,
}

_EPOCH_DT = _dt.datetime(1970, 1, 1)
_EPOCH_DATE = _dt.date(1970, 1, 1)


def _logical_to_raw(value: Any, lt: str, schema: dict) -> Any:
    """Typed Python value (datetime/date/Decimal/UUID) → the raw Avro value
    the base type encodes; already-raw values pass through untouched (spec:
    an unknown/ignored logical type is just its base type)."""
    t = schema["type"]
    if lt == "decimal" and isinstance(value, _decimal.Decimal):
        scale = int(schema.get("scale", 0))
        scaled = value.scaleb(scale)
        if scaled != scaled.to_integral_value():
            raise AvroError(
                f"decimal {value} does not fit scale {scale} exactly"
            )
        unscaled = int(scaled)
        if t == "fixed":
            return unscaled.to_bytes(int(schema["size"]), "big", signed=True)
        nbytes = max(1, (unscaled.bit_length() + 8) // 8)  # two's complement
        return unscaled.to_bytes(nbytes, "big", signed=True)
    if lt in _TS_LOGICAL and isinstance(value, _dt.datetime):
        if value.tzinfo is not None:  # aware → the UTC instant
            delta = value - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        else:  # naive → epoch in its own (local) terms
            delta = value - _EPOCH_DT
        return (delta // _dt.timedelta(microseconds=1)) // _TS_LOGICAL[lt]
    if (
        lt == "date"
        and isinstance(value, _dt.date)
        and not isinstance(value, _dt.datetime)
    ):
        return (value - _EPOCH_DATE).days
    if lt == "uuid" and isinstance(value, _uuid.UUID):
        return str(value)
    if lt in ("time-millis", "time-micros") and isinstance(value, _dt.time):
        micros = (
            value.hour * 3_600_000_000
            + value.minute * 60_000_000
            + value.second * 1_000_000
            + value.microsecond
        )
        return micros // (1_000 if lt == "time-millis" else 1)
    return value


def _matches_logical(value: Any, lt: str) -> bool:
    """Union-branch matching for TYPED logical values (raw values still
    match through the base-type rules)."""
    if lt == "decimal":
        return isinstance(value, _decimal.Decimal)
    if lt in _TS_LOGICAL:
        return isinstance(value, _dt.datetime)
    if lt == "date":
        return isinstance(value, _dt.date) and not isinstance(value, _dt.datetime)
    if lt == "uuid":
        return isinstance(value, _uuid.UUID)
    if lt in ("time-millis", "time-micros"):
        return isinstance(value, _dt.time)
    return False


def _spark_logical_type(lt: str, t: str, schema: dict):
    """Spark DataType for a recognized (logicalType, base type) pair; None
    falls back to the base type (the spec's rule for unknown annotations).
    time-millis/micros deliberately stay raw ints — Spark's JSON bridge has
    no time-of-day parse path, and a silent cast would corrupt values."""
    from pyspark.sql import types as T

    if lt == "decimal" and t in ("bytes", "fixed"):
        return T.DecimalType(
            int(schema.get("precision", 10)), int(schema.get("scale", 0))
        )
    if lt == "date" and t == "int":
        return T.DateType()
    if lt in ("timestamp-millis", "timestamp-micros") and t == "long":
        return T.TimestampType()
    if lt in ("local-timestamp-millis", "local-timestamp-micros") and t == "long":
        return T.TimestampNTZType()
    if lt == "uuid" and t == "string":
        return T.StringType()
    return None


def _jsonable_logical(value: Any, lt: str, t: str, schema: dict):
    """(converted, handled): decoded raw value → the JSON string shape
    Spark's from_json parses into the _spark_logical_type — decimal as a
    plain decimal string, date as ISO, timestamps as microsecond ISO-8601
    (UTC-suffixed for instants, bare for NTZ)."""
    if lt == "decimal" and t in ("bytes", "fixed"):
        scale = int(schema.get("scale", 0))
        unscaled = int.from_bytes(value, "big", signed=True)
        return format(_decimal.Decimal(unscaled).scaleb(-scale), "f"), True
    if lt == "date" and t == "int":
        return (_EPOCH_DATE + _dt.timedelta(days=value)).isoformat(), True
    if lt in _TS_LOGICAL and t == "long":
        micros = value * _TS_LOGICAL[lt]
        stamp = (_EPOCH_DT + _dt.timedelta(microseconds=micros)).isoformat(
            sep="T", timespec="microseconds"
        )
        if lt.startswith("timestamp-"):
            return stamp + "Z", True  # instant: pinned UTC
        return stamp, True  # local-*: naive, parsed as TimestampNTZ
    return None, False


def _matches(value: Any, schema: Any, names: dict[str, Any]) -> bool:
    schema = _resolve(schema, names)
    if isinstance(schema, dict):
        lt = schema.get("logicalType")
        if lt is not None and _matches_logical(value, lt):
            return True
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return value is None
    if t == "boolean":
        return isinstance(value, bool)
    if t in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if t in ("float", "double"):
        # Avro writers accept int-to-float promotion (value is representable);
        # bool stays excluded
        return isinstance(value, float) or (
            isinstance(value, int) and not isinstance(value, bool)
        )
    if t in ("bytes", "fixed"):
        return isinstance(value, (bytes, bytearray))
    if t in ("string", "enum"):
        return isinstance(value, str)
    if t == "record":
        return isinstance(value, dict)
    if t == "array":
        return isinstance(value, list)
    if t == "map":
        return isinstance(value, dict)
    return False


def encode(value: Any, schema: Any, confluent_schema_id: int | None = None) -> bytes:
    """Encode ``value`` as Avro binary; with ``confluent_schema_id`` the
    payload gets the registry wire framing the reference's converter sees."""
    out = io.BytesIO()
    if confluent_schema_id is not None:
        out.write(b"\x00")
        out.write(confluent_schema_id.to_bytes(4, "big"))
    _encode(value, schema, out, _registry(schema))
    return out.getvalue()


# ---------------------------------------------------------------------------
# column-wise encode (the sink's OCF path: one Arrow slice per call)


def _varints(z, branch=None, present=None):
    """``large_binary`` Arrow array of each uint64 ``z``'s Avro varint, cut
    from one (n, 10) byte matrix masked to each value's length. ``branch``
    (a per-row union index byte) goes first; a row whose ``present`` is False
    keeps only that byte."""
    import numpy as np
    import pyarrow as pa

    n = len(z)
    lead = 0 if branch is None else 1
    mat = np.empty((n, lead + 10), np.uint8)
    nbytes = np.ones(n, np.int64)
    for k in range(10):
        digits = z >> np.uint64(7 * k)
        mat[:, lead + k] = digits & np.uint64(0x7F)
        if k:
            nbytes += digits != 0
    mat[:, lead:] |= (np.arange(10) < (nbytes - 1)[:, None]).astype(np.uint8) << 7
    width = nbytes
    if branch is not None:
        mat[:, 0] = branch
        width = np.where(present, nbytes + 1, 1)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(width, out=offsets[1:])
    data = mat[np.arange(lead + 10) < width[:, None]]
    return pa.Array.from_buffers(
        pa.large_binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


def _column_parts(col, ftype, names: dict[str, Any]) -> list:
    """One field's Avro bytes per row, as ``large_binary`` arrays whose
    row-wise concatenation is the encoding (a null array element stands for
    no bytes). ``int``/``long``/``string``/``bytes`` fields, plain or as a
    two-branch union with ``"null"``, are encoded from the Arrow buffers;
    any other field goes through ``_encode`` one value at a time."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ftype = _resolve(ftype, names)
    inner = ftype
    branch = present = None
    if isinstance(ftype, list) and len(ftype) == 2 and "null" in ftype:
        ni = ftype.index("null")
        inner = _resolve(ftype[1 - ni], names)
        present = pc.is_valid(col).to_numpy(zero_copy_only=False)
        branch = np.where(present, 2 * (1 - ni), 2 * ni).astype(np.uint8)
    at = col.type
    fast = (
        (inner in ("int", "long") and pa.types.is_signed_integer(at))
        or (inner == "string" and (pa.types.is_string(at) or pa.types.is_large_string(at)))
        or (inner == "bytes" and (pa.types.is_binary(at) or pa.types.is_large_binary(at)))
    )
    if not fast:

        def encode_one(value):
            out = io.BytesIO()
            _encode(value, ftype, out, names)
            return out.getvalue()

        return [pa.array(map(encode_one, col.to_pylist()), pa.large_binary())]
    if branch is None and col.null_count:
        raise AvroError(f"null value for non-nullable {inner!r} field")
    if inner in ("int", "long"):
        v = pc.fill_null(col, 0).cast(pa.int64()).to_numpy()
        zigzag = (v.view(np.uint64) << np.uint64(1)) ^ (v >> 63).view(np.uint64)
        return [_varints(zigzag, branch, present)]
    sizes = pc.fill_null(pc.binary_length(col), 0).cast(pa.int64()).to_numpy()
    return [
        _varints(sizes.view(np.uint64) << np.uint64(1), branch, present),
        col.cast(pa.large_binary()),
    ]


def encode_rows(batch, schema: Any):
    """Avro binary encoding of every row of an Arrow record batch (or
    table) under a record ``schema`` whose field names are the batch's column
    names, in order. Returns ``(offsets, data)``: record i is
    ``data[offsets[i]:offsets[i + 1]]``, byte-identical to ``encode`` of the
    row as a dict.

    Works column by column: each field's per-row bytes come from
    ``_column_parts`` and one C-level ``binary_join_element_wise`` lays them
    out in row order, so no flat-typed value becomes a Python object."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    names = _registry(schema)
    fields = schema["fields"]
    if [f["name"] for f in fields] != batch.schema.names:
        raise AvroError(
            f"schema fields {[f['name'] for f in fields]} do not match "
            f"batch columns {batch.schema.names}"
        )
    n = batch.num_rows
    parts = [
        part
        for f, col in zip(fields, batch.columns)
        for part in _column_parts(col, f["type"], names)
    ]
    if not parts:
        return np.zeros(n + 1, np.int64), memoryview(b"")
    joined = pc.binary_join_element_wise(
        *parts, pa.scalar(b"", pa.large_binary()), null_handling="skip"
    )
    offsets = np.frombuffer(joined.buffers()[1], np.int64, n + 1)
    data = joined.buffers()[2] or b""
    return offsets, memoryview(data).cast("B")[: offsets[-1]]


# ---------------------------------------------------------------------------
# Avro → Spark mapping and the DataFrame-level converter


def spark_type_for(schema: Any, names: dict[str, Any] | None = None):
    """Spark DataType for an Avro schema (the derivation the reference's
    parquet envelope needs, README.md:357-405). Unions must be
    ["null", X] / [X, "null"] — the nullable-X shape Connect produces."""
    from pyspark.sql import types as T

    names = _registry(schema) if names is None else names
    schema = _resolve(schema, names)
    if isinstance(schema, list):
        branches = [b for b in schema if b != "null"]
        if len(branches) != 1:
            raise AvroError(f"only nullable unions are supported, got {schema!r}")
        return spark_type_for(branches[0], names)
    if isinstance(schema, dict):
        t = schema["type"]
        if isinstance(t, (dict, list)):
            return spark_type_for(t, names)
        lt = schema.get("logicalType")
        if lt is not None:
            logical = _spark_logical_type(lt, t, schema)
            if logical is not None:
                return logical
        if t == "record":
            return T.StructType(
                [
                    T.StructField(
                        f["name"],
                        spark_type_for(f["type"], names),
                        nullable=_is_nullable(f["type"]),
                    )
                    for f in schema.get("fields", [])
                ]
            )
        if t == "enum":
            return T.StringType()
        if t == "fixed":
            return T.BinaryType()
        if t == "array":
            return T.ArrayType(spark_type_for(schema["items"], names))
        if t == "map":
            return T.MapType(T.StringType(), spark_type_for(schema["values"], names))
        schema = t
    return {
        "null": T.NullType(),
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "bytes": T.BinaryType(),
        "string": T.StringType(),
    }[schema]


def _is_nullable(schema: Any) -> bool:
    return isinstance(schema, list) and "null" in schema


def _jsonable(value: Any, schema: Any, names: dict[str, Any]) -> Any:
    """Decoded Avro value → the JSON shape Spark's from_json expects for the
    derived type (bytes/fixed → base64 string, which Spark's JSON reader
    decodes back into BinaryType — lossless)."""
    schema = _resolve(schema, names)
    if value is None:
        return None
    if isinstance(schema, list):
        branches = [b for b in schema if b != "null"]
        return _jsonable(value, branches[0], names)
    if isinstance(schema, dict):
        t = schema["type"]
        if isinstance(t, (dict, list)):
            return _jsonable(value, t, names)
        lt = schema.get("logicalType")
        if lt is not None:
            converted, handled = _jsonable_logical(value, lt, t, schema)
            if handled:
                return converted
        if t == "record":
            return {
                f["name"]: _jsonable(value[f["name"]], f["type"], names)
                for f in schema.get("fields", [])
            }
        if t == "array":
            return [_jsonable(v, schema["items"], names) for v in value]
        if t == "map":
            return {
                k: _jsonable(v, schema["values"], names) for k, v in value.items()
            }
        if t == "fixed":
            return base64.b64encode(value).decode("ascii")
        schema = t
    if schema == "bytes":
        return base64.b64encode(value).decode("ascii")
    return value


def _merge_struct_types(types_by_id: dict[int, Any]):
    """Union output schema across writer-schema versions: fields merged by
    name in first-seen order, all nullable (a payload written with an older
    schema leaves newer fields NULL — the standard schema-evolution read
    shape). Conflicting types for the same field name are an error: silent
    coercion would corrupt values."""
    from pyspark.sql import types as T

    merged: dict[str, Any] = {}
    order: list[str] = []
    for sid in sorted(types_by_id):
        st = types_by_id[sid]
        if not isinstance(st, T.StructType):
            raise AvroError("schema-map decode requires record schemas")
        for f in st.fields:
            if f.name not in merged:
                merged[f.name] = f.dataType
                order.append(f.name)
            elif merged[f.name] != f.dataType:
                raise AvroError(
                    f"field {f.name!r} has conflicting types across schema ids: "
                    f"{merged[f.name]} vs {f.dataType}"
                )
    return T.StructType([T.StructField(n, merged[n], True) for n in order])


def decode_avro_column(
    df,
    column: str,
    schema_json: str | dict[int, str],
    output_column: str = "decoded",
    confluent_framing: bool = False,
    schema_id_column: str | None = None,
    on_error: str = "raise",
):
    """``from_avro`` equivalent: decode a BinaryType column against an Avro
    schema into a typed struct column.

    ``schema_json`` is either ONE writer schema, or an id→schema map: each
    payload's 4-byte Confluent schema id is resolved per record (the offline
    stand-in for the reference's Schema Registry client,
    AvroIntegrationTest.java:135-137) and the output struct is the
    evolution-merged union of all versions' fields (older payloads leave
    newer fields NULL). ``schema_id_column`` optionally emits which id each
    record carried, for per-id routing downstream.

    ``on_error``: ``"raise"`` fails the task on the first undecodable payload
    (a corrupt record IS the bug on a curated topic). ``"capture"`` is the
    Kafka-Connect ``errors.tolerance=all`` posture: the row survives with a
    NULL ``output_column`` and the exception text in ``decode_error`` —
    route those rows to a dead-letter sink (``split_dead_letters``) exactly
    like Connect's DLQ topic, instead of stalling the whole pipeline on one
    poison record.

    Plan shape: one Arrow-batched ``mapInPandas`` pass decodes payloads to
    compact JSON strings (pure per-row CPU, no shuffle, payloads never leave
    their partition), then JVM-side ``from_json`` parses them against the
    derived Spark type inside whole-stage codegen. Cites
    AvroIntegrationTest.java:135-137 (converter contract) and
    README.md:357-405 (envelope schema derivation).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(schema_json, dict):
        if not confluent_framing:
            raise AvroError("an id→schema map requires confluent_framing=True")
        schemas = {int(i): parse_schema(s) for i, s in schema_json.items()}
        names_by_id = {i: _registry(s) for i, s in schemas.items()}
        spark_type = _merge_struct_types(
            {i: spark_type_for(s, names_by_id[i]) for i, s in schemas.items()}
        )

        def decode_one(payload: bytes) -> tuple[int, str]:
            sid, value = decode_confluent(payload, schemas)
            return sid, json.dumps(
                _jsonable(value, schemas[sid], names_by_id[sid]),
                separators=(",", ":"),
            )

    else:
        schema = parse_schema(schema_json)
        names = _registry(schema)
        spark_type = spark_type_for(schema, names)

        def decode_one(payload: bytes) -> tuple[int, str]:
            return -1, json.dumps(
                _jsonable(decode(payload, schema, confluent_framing), schema, names),
                separators=(",", ":"),
            )

    if on_error not in ("raise", "capture"):
        raise AvroError(f"on_error must be 'raise' or 'capture', got {on_error!r}")
    capture = on_error == "capture"

    out_fields = [
        f
        for f in df.schema.fields
        if f.name not in ("_avro_json", "_avro_sid", "_avro_err")
    ]

    def run(batches):
        for pdf in batches:
            pdf = pdf.copy()
            decoded = []
            for payload in pdf[column]:
                if payload is None:
                    decoded.append((None, None, None))
                    continue
                if not capture:
                    decoded.append((*decode_one(bytes(payload)), None))
                    continue
                try:
                    decoded.append((*decode_one(bytes(payload)), None))
                except Exception as e:  # noqa: BLE001 — DLQ posture: survive
                    decoded.append((None, None, f"{type(e).__name__}: {e}"))
            pdf["_avro_sid"] = [d[0] for d in decoded]
            pdf["_avro_json"] = [d[1] for d in decoded]
            if capture:
                pdf["_avro_err"] = [d[2] for d in decoded]
            yield pdf

    err_fields = (
        [T.StructField("_avro_err", T.StringType(), True)] if capture else []
    )
    with_json = df.mapInPandas(
        run,
        schema=T.StructType(
            out_fields
            + [
                T.StructField("_avro_sid", T.IntegerType(), True),
                T.StructField("_avro_json", T.StringType(), True),
            ]
            + err_fields
        ),
    )
    result = with_json.withColumn(
        output_column, F.from_json(F.col("_avro_json"), spark_type)
    )
    if schema_id_column is not None:
        result = result.withColumn(schema_id_column, F.col("_avro_sid"))
    if capture:
        result = result.withColumn("decode_error", F.col("_avro_err"))
    return result.drop("_avro_json", "_avro_sid", "_avro_err")


def encode_avro_column(
    df,
    column: str,
    schema_json: str,
    output_column: str = "avro",
    confluent_schema_id: int | None = None,
):
    """Inverse seam (test-fixture / producer side): a struct column → Avro
    binary payloads, optionally Confluent-framed. Same partition-local
    ``mapInPandas`` shape as the decoder."""
    from pyspark.sql import types as T

    schema = parse_schema(schema_json)
    out_fields = [f for f in df.schema.fields if f.name != output_column]

    def run(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf[output_column] = [
                None
                if row is None
                else encode(row, schema, confluent_schema_id)
                for row in pdf[column]
            ]
            yield pdf.drop(columns=[column])

    return df.mapInPandas(
        run,
        schema=T.StructType(
            [f for f in out_fields if f.name != column]
            + [T.StructField(output_column, T.BinaryType(), True)]
        ),
    )


# The reference's parquet envelope in Avro terms (README.md:357-405): the
# schema derivation used when writing a schema'd envelope.
def envelope_avro_schema(
    value_schema: Any | None = None, headers_as_map: bool = False
) -> dict:
    """Avro record schema of the sink envelope {key, offset, timestamp,
    headers, value}; ``value_schema`` (parsed Avro) nests the value as a true
    record, else bytes.

    Headers default to array-of-{key,value} records — a DOCUMENTED DEVIATION
    from the reference's envelope, which describes headers as an Avro map
    (README.md:357-405): Kafka headers are an ordered multi-map, and a map
    silently drops repeated keys and their order. ``headers_as_map=True``
    emits the reference's byte-compatible map shape instead (last value wins
    for duplicate keys; the reference notes the same constraint —
    "headers values must be the same datatype", README.md:423)."""
    headers_schema: Any
    if headers_as_map:
        headers_schema = {"type": "map", "values": ["null", "bytes"]}
    else:
        headers_schema = {
            "type": "array",
            "items": {
                "type": "record",
                "name": "header",
                "fields": [
                    {"name": "key", "type": "string"},
                    {"name": "value", "type": ["null", "bytes"]},
                ],
            },
        }
    return {
        "type": "record",
        "name": "connector_records",
        "fields": [
            {"name": "key", "type": ["null", "bytes"]},
            {"name": "offset", "type": "long"},
            {"name": "timestamp", "type": ["null", "long"]},
            {"name": "headers", "type": ["null", headers_schema]},
            {
                "name": "value",
                "type": ["null", value_schema if value_schema else "bytes"],
            },
        ],
    }


# ---------------------------------------------------------------------------
# Object Container Files (OCF) — the `.avro` file format, Avro 1.12 spec
# "Object Container Files" chapter: magic `Obj\x01`, a file-metadata Avro map
# (avro.schema / avro.codec), a 16-byte sync marker, then data blocks of
# (record count, compressed byte size, compressed records, sync marker).
# This is the OUTPUT format family's fifth member (alongside CSV/JSONL/JSON/
# parquet): the reference family's commons supports an Avro output format on
# the same grouped-object write path; here it reuses this module's pure-Python
# codec, so no avro/fastavro/spark-avro dependency is needed.

OCF_MAGIC = b"Obj\x01"

# OCF codec registry (spec: null + deflate required; snappy + zstandard
# optional). deflate is a RAW DEFLATE stream (zlib wbits=-15 — the zlib/gzip
# wrappers are absent per spec); snappy is raw-format snappy followed by a
# 4-byte big-endian CRC32 of the UNCOMPRESSED data; zstandard is a plain
# zstd frame. null/snappy/zstandard bodies are formats/compression.py's.
_OCF_CODECS = ("null", "deflate", "snappy", "zstandard")
_OCF_BODY_CODECS = {
    "null": CompressionType.NONE,
    "snappy": CompressionType.SNAPPY,
    "zstandard": CompressionType.ZSTD,
}


def _snappy_crc(data: bytes) -> bytes:
    return _struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)


def _body_codec(codec: str) -> CompressionType:
    if codec not in _OCF_BODY_CODECS:
        raise AvroError(f"unsupported OCF codec {codec!r} (have {_OCF_CODECS})")
    return _OCF_BODY_CODECS[codec]


def _ocf_compress(data: bytes, codec: str) -> bytes:
    if codec == "deflate":
        c = zlib.compressobj(9, zlib.DEFLATED, -15)
        return c.compress(data) + c.flush()
    body = compress_bytes(data, _body_codec(codec))
    return body + _snappy_crc(data) if codec == "snappy" else body


def _ocf_decompress(data: bytes, codec: str) -> bytes:
    if codec == "deflate":
        return zlib.decompress(data, -15)
    if codec == "snappy":
        out = decompress_bytes(data[:-4], CompressionType.SNAPPY)
        if _snappy_crc(out) != data[-4:]:
            raise AvroError("snappy block CRC mismatch")
        return out
    return decompress_bytes(data, _body_codec(codec))


class OCFWriter:
    """Streaming OCF writer over any binary sink: header on construction,
    records buffered into blocks of ``block_records`` (bounded memory — the
    analog of the text writer's compression buffer), one block flushed per
    boundary, final partial block on ``close``.

    ``sync_marker`` is the caller's 16 bytes; the sink writer derives it from
    the object NAME (md5), so an at-least-once replay rewrites a
    byte-identical object — the same idempotence contract as every other
    format (README.md:101-133 name determinism)."""

    def __init__(
        self,
        out,
        schema: Any,
        codec: str = "null",
        sync_marker: bytes | None = None,
        block_records: int = 1000,
    ) -> None:
        if codec not in _OCF_CODECS:
            raise AvroError(f"unsupported OCF codec {codec!r} (have {_OCF_CODECS})")
        if sync_marker is None:
            import hashlib

            sync_marker = hashlib.md5(json.dumps(schema).encode()).digest()
        if len(sync_marker) != 16:
            raise AvroError(f"sync marker must be 16 bytes, got {len(sync_marker)}")
        if block_records <= 0:
            raise AvroError(f"block_records must be > 0, got {block_records}")
        self._out = out
        self._schema = parse_schema(schema) if isinstance(schema, str) else schema
        self._names = _registry(self._schema)
        self._codec = codec
        self._sync = sync_marker
        self._block_records = block_records
        self._buf = io.BytesIO()
        self._count = 0
        self.total_records = 0
        header = io.BytesIO()
        header.write(OCF_MAGIC)
        meta = {
            "avro.schema": json.dumps(self._schema, separators=(",", ":")).encode(),
            "avro.codec": codec.encode(),
        }
        _write_long(header, len(meta))
        for k, v in sorted(meta.items()):  # sorted → deterministic bytes
            _write_long(header, len(k))
            header.write(k.encode())
            _write_long(header, len(v))
            header.write(v)
        _write_long(header, 0)
        header.write(self._sync)
        out.write(header.getvalue())

    def append(self, datum: Any) -> None:
        buf = io.BytesIO()
        _encode(datum, self._schema, buf, self._names)
        self.append_encoded((0, buf.tell()), buf.getbuffer())

    def append_encoded(self, offsets, data) -> None:
        """Append ``len(offsets) - 1`` already-encoded records (record i is
        ``data[offsets[i]:offsets[i + 1]]``, as ``encode_rows`` returns).
        Blocks are cut every ``block_records`` records however the calls
        split the stream."""
        i, n = 0, len(offsets) - 1
        while i < n:
            take = min(n - i, self._block_records - self._count)
            self._buf.write(data[int(offsets[i]) : int(offsets[i + take])])
            i += take
            self._count += take
            self.total_records += take
            if self._count >= self._block_records:
                self._flush_block()

    def _flush_block(self) -> None:
        if self._count == 0:
            return
        body = _ocf_compress(self._buf.getvalue(), self._codec)
        blk = io.BytesIO()
        _write_long(blk, self._count)
        _write_long(blk, len(body))
        blk.write(body)
        blk.write(self._sync)
        self._out.write(blk.getvalue())
        self._buf = io.BytesIO()
        self._count = 0

    def close(self) -> None:
        """Flush the final partial block. Does NOT close the underlying sink —
        the object-storage context manager owns commit/abort."""
        self._flush_block()


def read_ocf(data: bytes) -> tuple[Any, list]:
    """Parse one OCF object: returns (writer schema, records). Verifies the
    magic, every block's sync marker, and block-level decode integrity —
    the structural validation the delivery audit leans on (a truncated or
    bit-flipped object fails here, never silently yields short rows)."""
    buf = io.BytesIO(data)
    if _read_exact(buf, 4) != OCF_MAGIC:
        raise AvroError("bad OCF magic")
    meta: dict[str, bytes] = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            break
        if n < 0:  # block-size form of map runs
            _read_long(buf)
            n = -n
        for _ in range(n):
            klen = _read_long(buf)
            k = _read_exact(buf, klen).decode()
            vlen = _read_long(buf)
            meta[k] = _read_exact(buf, vlen)
    codec = meta.get("avro.codec", b"null").decode()
    schema = parse_schema(meta["avro.schema"].decode())
    names = _registry(schema)
    sync = _read_exact(buf, 16)
    records: list = []
    while True:
        first = buf.read(1)
        if not first:
            break
        buf.seek(-1, io.SEEK_CUR)
        count = _read_long(buf)
        size = _read_long(buf)
        body = _ocf_decompress(_read_exact(buf, size), codec)
        if _read_exact(buf, 16) != sync:
            raise AvroError("OCF block sync marker mismatch")
        block = io.BytesIO(body)
        for _ in range(count):
            records.append(_decode(schema, block, names))
        if block.read(1):
            raise AvroError("trailing bytes in OCF block")
    return schema, records


def avro_schema_for_spark(struct_type, name: str = "connector_records") -> dict:
    """Derive the OCF writer schema from a Spark ``StructType`` — the sink's
    prepared envelope columns in their configured order. Nullability maps to
    a ["null", T] union; the mapping covers exactly the envelope's type
    universe (string/binary/int/long/double/float/boolean/timestamp/
    array/struct) and refuses anything else loudly."""
    from pyspark.sql import types as T

    def conv(dt, path: str):
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.BinaryType):
            return "bytes"
        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, T.IntegerType):
            return "int"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, T.TimestampType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.ArrayType):
            item = conv(dt.elementType, f"{path}_item")
            if dt.containsNull and not isinstance(item, list):
                item = ["null", item]
            return {"type": "array", "items": item}
        if isinstance(dt, T.StructType):
            return {
                "type": "record",
                "name": path,
                "fields": [
                    {
                        "name": f.name,
                        "type": ["null", conv(f.dataType, f"{path}_{f.name}")]
                        if f.nullable
                        else conv(f.dataType, f"{path}_{f.name}"),
                    }
                    for f in dt.fields
                ],
            }
        raise AvroError(f"no Avro mapping for Spark type {dt} at {path}")

    return {
        "type": "record",
        "name": name,
        "fields": [
            {
                "name": f.name,
                "type": ["null", conv(f.dataType, f.name)]
                if f.nullable
                else conv(f.dataType, f.name),
            }
            for f in struct_type.fields
        ],
    }
