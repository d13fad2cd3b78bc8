"""Record-grouping operators (SURVEY.md §2.3).

The reference buffers records in a driver-heap ``Map<filename, List<SinkRecord>>``
(``S3SinkTask.java:117,121-124``). Here each grouping step is a declarative
DataFrame transform, so the same code scales from 60k rows to 100 TB.
``sinks.writer.prepare_with_filenames`` composes them into the one
record→object rule:

- max-records-per-file chunking: ``assign_file_chunks`` — file ordinal via
  ``row_number() over (partition by group order by offset)``
  (``IntegrationTest.java:260-307``); the writer names each chunk by its
  ``min(offset)`` (``README.md:101-133``).
- schema-change rotation: ``assign_schema_runs`` — gaps-and-islands run
  index per (topic, partition), folded into the chunk group
  (``AvroParquetIntegrationTest.java:288-335``).
- key upsert (last-value-per-key): ``max_by(struct(*), offset)`` — a single
  aggregate with partial map-side combine; deliberately NOT window+row_number,
  which has no partial aggregation and shuffles whole rows
  (``README.md:135-198``; cross-partition order is non-deterministic in the
  reference — we pin the deterministic tiebreak (offset, partition) and document
  the deviation).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.config import EngineConfig
from kafka_connector_s3_sink_spark.template import key_string_column


def last_value_per_key(df: DataFrame, order_col: str = "offset") -> DataFrame:
    """Compacted-topic materialization: exactly one record per stringified key —
    the one with the greatest ``order_col``.

    The reference's cross-partition winner is timing-dependent (README.md:185-198);
    we pin max-by-(offset) which is deterministic because the canonical view's
    offsets are globally unique. Implemented as ``max_by(struct(...), offset)``:
    one shuffle, partial aggregation, no full-row window sort.
    """
    group_key = key_string_column().alias("_group_key")
    payload = F.struct(*[F.col(c) for c in df.columns])  # keeps the ORIGINAL
    # (nullable) key so CSV still renders a null key as empty (README.md:251-257)
    agged = (
        df.select(group_key, payload.alias("_rec"), F.col(order_col).alias("_ord"))
        .groupBy("_group_key")
        .agg(F.max_by("_rec", "_ord").alias("_rec"))
    )
    return agged.select(*[f"_rec.{c}" for c in df.columns])


def assign_file_chunks(
    df: DataFrame,
    config: EngineConfig,
    group: Sequence[str] = ("topic", "partition"),
) -> DataFrame:
    """Add ``_chunk`` (file ordinal within ``group``, 0-based) honoring
    ``file.max.records``; 0 = unlimited → single chunk.

    Scale note: the window sorts only within each group, on the
    (topic, partition) exchange the start-offset window reuses. Offsets are
    monotone within a Kafka partition, so the sort is near-sorted input.
    """
    if config.file_max_records <= 0:
        return df.withColumn("_chunk", F.lit(0))
    w = Window.partitionBy(*group).orderBy("offset")
    rn = F.row_number().over(w) - F.lit(1)
    return df.withColumn("_chunk", (rn / config.file_max_records).cast("int"))


def value_schema_fingerprint(value: Column) -> Column:
    """Schema fingerprint of a JSON value: md5 of the sorted top-level key set.

    Plays the role of the reference's Avro-schema identity (a value-schema
    change rotates the output file, AvroParquetIntegrationTest.java:288-335);
    for JSON-string payloads the top-level key set IS the inferred schema."""
    return F.md5(F.concat_ws(",", F.array_sort(F.json_object_keys(value))))


def assign_schema_runs(df: DataFrame, order_col: str = "offset") -> DataFrame:
    """Add ``_schema_run``: 0-based index of the consecutive same-schema run
    within each (topic, partition), ordered by offset — the file-rotation
    boundary. Returning to an earlier schema starts a NEW run (the reference
    rotates on every change, it never reopens old files).

    Gaps-and-islands via lag + running sum of change flags: one window over
    the (topic, partition) exchange the chunk and start-offset windows reuse.
    """
    w = Window.partitionBy("topic", "partition").orderBy(order_col)
    fp = value_schema_fingerprint(F.col("value"))
    with_fp = df.withColumn("_schema_fp", fp)
    # two steps: window functions cannot nest in one expression; both use the
    # same window spec so Catalyst plans ONE shuffle + sort for the pair
    chg = F.when(
        F.lag("_schema_fp").over(w).isNull()
        | (F.col("_schema_fp") != F.lag("_schema_fp").over(w)),
        1,
    ).otherwise(0)
    with_chg = with_fp.withColumn("_schema_chg", chg)
    run = (
        F.sum("_schema_chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        - 1
    )
    return with_chg.withColumn("_schema_run", run.cast("int")).drop("_schema_chg")
