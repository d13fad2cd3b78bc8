"""Per-record line rendering for the text formats (CSV / JSONL / JSON).

The line is a Column expression — serialization happens JVM-side inside
whole-stage codegen; the Python writer only concatenates already-rendered
lines. Parquet is handled separately (structured, not line-based).

Golden shapes (SURVEY.md §2.4):
- CSV: comma-joined encoded fields, no quoting (S3SinkTaskTest.java:215-221).
- JSONL: one compact JSON object per line, fields in configured order
  (S3SinkTaskTest.java:543-551).
- JSON: same object lines, wrapped in '[' / ']' with commas on all but the
  last element — file assembly happens in the writer
  (S3SinkTaskTest.java:714-722: ["[", "{…}", "]"]).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import types as T

from kafka_connector_s3_sink_spark.config import EngineConfig, FormatType
from kafka_connector_s3_sink_spark.operators.projection import (
    csv_line_column,
    json_object_column,
)


def record_line_column(
    config: EngineConfig, schema: T.StructType | None = None
) -> Column:
    """Rendered output line for one record under the configured format.
    ``schema`` is the record DataFrame's schema — it drives binary/struct
    payload handling (BinaryType → base64 bytes, StructType → JSON doc)."""
    if config.format_type is FormatType.CSV:
        return csv_line_column(config, schema)
    if config.format_type in (FormatType.JSONL, FormatType.JSON):
        return json_object_column(config, schema)
    raise ValueError(f"{config.format_type} is not a line-rendered format")
