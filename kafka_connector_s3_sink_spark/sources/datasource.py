"""Spark Python Data Source exposing sink output as a registrable format.

``sources.objects.read_sink_objects`` is the FAST path (JVM column parsing
behind one Arrow boundary). This module wraps the same store as a Spark 4
Python Data Source — ``spark.read.format("sink_objects")`` — for the places
a format string is the integration point: SQL (``CREATE TABLE … USING``),
catalog tools, and anything that configures readers by name rather than by
Python call. The trade is explicit: rows materialize in Python (the Data
Source API's execution model), so per-byte cost is higher than the
column-expression path; the partition planning is identical in spirit —
one ``InputPartition`` per object, so a billion-object store fans out to
exactly as many tasks as objects.

Decoding is not this module's: each task reads one object and hands it to
the decoder ``read_sink_objects`` uses too — ``sources.objects``'
``object_lines`` (write-side codec + JSON-array unframing) or
``object_records`` (Avro OCF / parquet / ORC), under the same ``on_error``
policy (``routed``) and with the same envelope types (``envelope_fields``).
Only the last step differs: rows are parsed here in Python, not in JVM
Column expressions. The options build one ``EngineConfig``, which validates
them and supplies the name-parse extension (``filename_extension``).

Options (all strings, per the API):
- ``path``              — sink destination (any ``pyarrow.fs`` URI)
- ``format``            — csv | jsonl | json | orc | avro (Avro OCF) |
  parquet. Container formats (orc/avro/parquet) ignore ``compression``,
  which is internal to the container. Parquet here buys what the native
  reader can't give a SQL-first user: per-object corrupt routing
  (``on_error=route`` turns a truncated/bad-footer object into one
  ``decode_error`` row instead of a task-killing scan — the posture
  ``sources.objects.read_sink_objects`` already has) and name-derived
  topic/partition/offset columns. For bulk healthy scans the native
  ``spark.read.parquet`` remains the fast path.
- ``compression``       — none | gzip | snappy | zstd (text formats)
- ``fields``            — comma-joined output fields, default ``value``
- ``encoding``          — base64 | none (CSV payload encoding)
- ``binary_payloads``   — true | false: decode key/value to BinaryType
  (default: true for csv+base64, false for jsonl/json — i.e. each format's
  faithful read-back, and true for the container formats; set true on
  JSON formats to recover original bytes, matching
  ``read_sink_objects(binary_payloads=True)``)
- ``on_error``          — fail (default) | route: with ``route``, a corrupt
  object (or unparseable line) yields one row with the exception in an
  appended ``decode_error`` column instead of failing the task — the
  format-API form of the fast path's poison-object routing
- ``template``/``prefix`` — filename template for name parsing
- ``envelope``          — true (default) | false: JSON objects written
  without the field envelope (single-field only)

Registration: ``spark.dataSource.register(SinkObjectsDataSource)`` (the
engine does not auto-register — Python data sources are per-session).
"""

from __future__ import annotations

import base64
import json
import re
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import types as T

from kafka_connector_s3_sink_spark.config import (
    CompressionType,
    EngineConfig,
    FieldEncoding,
    FormatType,
    OutputField,
    _enum_from_prop,
)
from kafka_connector_s3_sink_spark.sources.objects import (
    check_on_error,
    envelope_fields,
    object_lines,
    object_records,
    routed,
)

_CONTAINERS = (FormatType.AVRO, FormatType.ORC, FormatType.PARQUET)


class _ObjectPartition(InputPartition):
    def __init__(self, name: str):
        self.name = name


def _read_options(options) -> tuple[EngineConfig, bool, str]:
    """(config, binary_payloads, on_error) from the reader options (see the
    module docstring), validated by ``EngineConfig`` and its enums."""
    fields = [f.strip() for f in options.get("fields", "value").split(",")]
    config = EngineConfig(
        prefix=options.get("prefix", ""),
        file_name_template=options.get(
            "template", "{{topic}}-{{partition}}-{{start_offset}}"
        ),
        file_compression=_enum_from_prop(
            CompressionType, "compression", options.get("compression"), "gzip"
        ),
        format_type=_enum_from_prop(
            FormatType, "format", options.get("format"), "csv"
        ),
        output_fields=tuple(
            _enum_from_prop(OutputField, "fields", f, "value") for f in fields if f
        ),
        value_encoding=_enum_from_prop(
            FieldEncoding, "encoding", options.get("encoding"), "base64"
        ),
        envelope=options.get("envelope", "true").lower() == "true",
    )
    option = options.get("binary_payloads")
    if option is not None:
        binary_payloads = option.lower() == "true"
    else:
        binary_payloads = config.format_type in _CONTAINERS or (
            config.format_type is FormatType.CSV
            and config.value_encoding is FieldEncoding.BASE64
        )
    on_error = options.get("on_error", "fail").lower()
    check_on_error(on_error)
    return config, binary_payloads, on_error


class SinkObjectsDataSource(DataSource):
    """``spark.read.format("sink_objects").option("path", …)`` over a sink
    destination. See module docstring for options and the fast-path note."""

    @classmethod
    def name(cls) -> str:
        return "sink_objects"

    def schema(self) -> T.StructType:
        config, binary_payloads, on_error = _read_options(self.options)
        cols = [
            T.StructField("object_name", T.StringType(), False),
            T.StructField("topic", T.StringType(), True),
            T.StructField("partition", T.IntegerType(), True),
            T.StructField("start_offset", T.LongType(), True),
            *envelope_fields(config.output_fields, binary_payloads),
        ]
        if on_error == "route":
            cols.append(T.StructField("decode_error", T.StringType(), True))
        return T.StructType(cols)

    def reader(self, schema: T.StructType) -> "_SinkObjectsReader":
        # pushdown is an OPT-IN subclass: Spark refuses to initialize any
        # reader that merely DEFINES pushFilters() unless
        # spark.sql.python.filterPushdown.enabled is true, so the capability
        # must not leak into default configurations
        if self.options.get("pushdown", "false").lower() == "true":
            return _SinkObjectsPushdownReader(self.options, schema)
        return _SinkObjectsReader(self.options, schema)

    def streamReader(self, schema: T.StructType):
        return _SinkObjectsStreamReader(self.options, schema)


class _SinkObjectsReader(DataSourceReader):
    def __init__(self, options, schema):
        self.path = options["path"]
        self.config, self.binary_payloads, self.on_error = _read_options(options)
        self.fields = [f.value for f in self.config.output_fields]
        self.text = self.config.format_type not in _CONTAINERS
        pattern, self.groups = self.config.template.parse_pattern(
            prefix=self.config.prefix, extension=self.config.filename_extension
        )
        self.name_rx = re.compile(pattern)

    # -- planning (driver): one partition per object --------------------
    def partitions(self):
        from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage

        storage = ObjectStorage(self.path)
        names = storage.listing()
        preds = getattr(self, "_name_predicates", [])
        if preds:
            kept = []
            for n in names:
                parsed = dict(zip(("topic", "partition", "start_offset"),
                                  self._parse_name(n)))
                # NULL comparisons are never true — unparseable names prune
                if all(
                    parsed[c] is not None and op(parsed[c], v)
                    for c, op, v in preds
                ):
                    kept.append(n)
            names = kept
        return [_ObjectPartition(n) for n in names]

    # -- execution (task): stream one object ----------------------------
    def read(self, partition: _ObjectPartition) -> Iterator[tuple]:
        return self.read_object(partition.name)

    def _parse_name(self, name: str) -> tuple:
        """(topic, partition, start_offset) recovered from one object name
        via the template regex inverse; (None, None, None) when unparseable."""
        m = self.name_rx.match(name)
        g = self.groups
        topic = m.group(g["topic"]) if m and "topic" in g else None
        part = int(m.group(g["partition"])) if m and "partition" in g else None
        start = (
            int(m.group(g["start_offset"])) if m and "start_offset" in g else None
        )
        return topic, part, start

    def read_object(self, name: str) -> Iterator[tuple]:
        """One object's rows: ``object_lines`` / ``object_records`` (the
        shared decoder), then the per-row Python parse. Under
        ``on_error="route"`` a corrupt object (or an unparseable line)
        yields one row with the payload columns null and the exception in
        ``decode_error``."""
        head = (name, *self._parse_name(name))
        items, error = routed(self._decode, name, self.on_error)
        if error is not None:
            yield self._row(head, None, error)
            return
        for item in items:
            yield self._row(head, *routed(self._parse, item, self.on_error))

    def _row(self, head: tuple, values, error) -> tuple:
        row = head + tuple(values or (None,) * len(self.fields))
        return row + (error,) if self.on_error == "route" else row

    def _decode(self, name: str) -> list:
        from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage

        data = ObjectStorage(self.path).read_bytes(name)
        if self.text:
            return object_lines(data, self.config)
        return object_records(data, self.config)

    def _parse(self, item) -> list:
        if not self.text:
            return [self._payload(f, item.get(f)) for f in self.fields]
        if self.config.format_type is FormatType.CSV:
            cells = item.split(",")
            return [
                self._csv_cell(f, cells[i] if i < len(cells) else "")
                for i, f in enumerate(self.fields)
            ]
        if not self.config.envelope and len(self.fields) == 1:
            # unwrapped single-field objects: the line IS the field's value
            obj = {self.fields[0]: json.loads(item)}
        else:
            obj = json.loads(item)
        out = []
        for f in self.fields:
            v = obj.get(f)
            if f == "headers" and v is not None:
                v = [(h["key"], base64.b64decode(h["value"])) for h in v]
            elif f == "value" and isinstance(v, (dict, list)):
                v = json.dumps(v, separators=(",", ":"))
                if self.binary_payloads:
                    v = v.encode("utf-8")
            elif (
                f in ("key", "value")
                and self.binary_payloads
                and isinstance(v, str)
            ):
                # sink JSON formats serialize binary key/value as base64
                # strings; binary_payloads=true restores the original bytes
                # so this path agrees with read_sink_objects(binary_payloads)
                v = base64.b64decode(v)
            out.append(v)
        return out

    def _csv_cell(self, f: str, cell: str):
        if cell == "":
            return None
        if f in ("key", "value"):
            if not self.binary_payloads:
                return cell
            if self.config.value_encoding is FieldEncoding.BASE64:
                return base64.b64decode(cell)
            return cell.encode("utf-8")  # encoding=none: the payload's text
        if f == "headers":
            return [
                (base64.b64decode(k).decode("utf-8"), base64.b64decode(v))
                for k, v in (p.split(":", 1) for p in cell.split(";"))
            ]
        return int(cell)  # offset / timestamp

    def _payload(self, f: str, v):
        """A container record's field as the declared column type: headers
        as (key, value) tuples, key/value coerced to bytes or str so one
        option (``binary_payloads``) governs the schema whichever the
        sink's envelope stored."""
        if v is None:
            return None
        if f == "headers":
            return [(h["key"], h["value"]) for h in v]
        if f in ("key", "value"):
            if self.binary_payloads and isinstance(v, str):
                return v.encode("utf-8")
            if not self.binary_payloads and isinstance(v, (bytes, bytearray)):
                return bytes(v).decode("utf-8")
        return v


class _SinkObjectsPushdownReader(_SinkObjectsReader):
    """Opt-in (``option("pushdown", "true")`` + Spark conf
    ``spark.sql.python.filterPushdown.enabled=true``): accepts filters over
    the name-derived columns (``topic``, ``partition``, ``start_offset``) —
    constant per object, so evaluating them against the PARSED NAME prunes
    whole objects at planning time, before any byte is read: the format-API
    analog of partition pruning. ``offset``-level predicates are NOT
    prunable from names (an object's row-offset range isn't knowable
    without reading it) and are returned to Spark with everything else."""

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        ops = {
            EqualTo: lambda a, b: a == b,
            GreaterThan: lambda a, b: a > b,
            GreaterThanOrEqual: lambda a, b: a >= b,
            LessThan: lambda a, b: a < b,
            LessThanOrEqual: lambda a, b: a <= b,
        }
        self._name_predicates = []
        rest = []
        for f in filters:
            col = f.attribute[0] if len(f.attribute) == 1 else None
            if col in ("topic", "partition", "start_offset") and type(f) in ops:
                self._name_predicates.append((col, ops[type(f)], f.value))
            else:
                rest.append(f)
        return rest

class _SinkObjectsStreamReader(DataSourceStreamReader):
    """Streaming form: ``spark.readStream.format("sink_objects")``.

    Complements ``sources.objects.stream_sink_objects`` (Spark's file
    source), which cannot decompress zstd/snappy (no pure-JVM Hadoop codec)
    — here decompression is the Python write-side codecs, so EVERY sink
    compression streams.

    Partition-planning reader (r6 — graduated from
    ``SimpleDataSourceStreamReader``, whose execution model materialized
    every new object's rows ON THE DRIVER): the driver only LISTS —
    ``latestOffset`` snapshots the store's object names, ``partitions``
    plans one ``InputPartition`` per listing-delta object, and every byte
    of object data is read, decompressed, and parsed inside executor tasks
    via ``read`` — the engine's last driver-side data path removed.

    The offset is the set of already-ingested object names: objects are
    immutable and appear under new names, so set difference IS the new
    data, and replaying ``end − start`` from the checkpoint is exactly-once.
    The offset JSON therefore grows with the object count — the listing,
    not the data, is the driver's only per-object cost."""

    def __init__(self, options, schema):
        self._batch = _SinkObjectsReader(options, schema)
        self._path = options["path"]

    def initialOffset(self) -> dict:
        return {"names": []}

    def _listing(self) -> list:
        from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage

        return ObjectStorage(self._path).listing()

    def latestOffset(self) -> dict:
        return {"names": self._listing()}

    def partitions(self, start: dict, end: dict):
        new = sorted(set(end["names"]) - set(start["names"]))
        return [_ObjectPartition(n) for n in new]

    def read(self, partition: _ObjectPartition) -> Iterator[tuple]:
        # runs in an executor task — one object per task, streamed through
        # the write-side codecs, identical row shape to the batch reader
        return self._batch.read_object(partition.name)

    def commit(self, end: dict) -> None:
        pass  # objects are immutable; nothing to clean up
