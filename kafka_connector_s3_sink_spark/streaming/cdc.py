"""CDC (Debezium-style) envelope handling on top of the converter surface.

The first real stream a Kafka→object-store user points at this engine is
usually a CDC topic: Debezium wraps every row change in an envelope
``{before, after, op, ts_ms, source{...}}`` (public Debezium message
format), serialized by the same Confluent Avro/JSON converters the sink
already decodes (``formats/avro.decode_avro_column`` — incl. the r6 logical
types CDC schemas lean on: ``timestamp-millis/micros``, ``decimal``,
``date``, ``uuid``). What the reference leaves to the user — turning that
envelope stream into a queryable current-state table — is two declarative
steps:

- ``unwrap_cdc_envelope``: envelope struct column → one flat row per change
  event: the row image (``after``, or ``before`` for deletes), ``op``
  normalized to ``c/u/d/r``, the source metadata callers asked for, and a
  ``deleted`` flag. Pure Column projection — no shuffle, no UDF.
- ``cdc_snapshot``: change rows → current state: latest image per key by
  (ts, offset) order with deletes REMOVED — one ``max_by(struct)`` hash
  aggregation per key (the same single-shuffle shape as the sink's
  last-value-per-key upsert, ``grouping.py``), so a 100 TB changelog
  snapshots with one key-partitioned pass. Works identically under
  ``foreachBatch`` (per-epoch snapshot materialization) and in batch
  backfills.

Both run on any envelope the converters produce — Avro via
``decode_avro_column`` (typed struct), or JSON via ``from_json`` with the
envelope schema.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unwrap_cdc_envelope(
    df: DataFrame,
    envelope_col: str = "decoded",
    source_fields: Sequence[str] = (),
    drop_envelope: bool = True,
) -> DataFrame:
    """Flatten a Debezium-style envelope struct column.

    Output columns: every field of the row image (``after`` for c/u/r,
    ``before`` for d — a delete's only image), plus ``op`` (lowercased),
    ``deleted`` (boolean), ``cdc_ts_ms`` (the envelope's event timestamp,
    null-safe), and ``source_<f>`` for each requested ``source_fields``
    entry. Rows whose envelope is null (e.g. converter dead letters) or
    whose op is unknown are KEPT with null image fields and ``op`` as-is —
    dropping is the caller's policy, same as everywhere else in the engine.
    """
    env = F.col(envelope_col)
    op = F.lower(env.getField("op"))
    image = F.when(op == "d", env.getField("before")).otherwise(
        env.getField("after")
    )
    # image field names come from the envelope's struct type
    env_type = df.schema[envelope_col].dataType
    after_type = dict((f.name, f.dataType) for f in env_type.fields)["after"]
    image_cols = [
        image.getField(f.name).alias(f.name) for f in after_type.fields
    ]
    out_cols = list(image_cols) + [
        op.alias("op"),
        (op == "d").alias("deleted"),
        env.getField("ts_ms").alias("cdc_ts_ms"),
    ]
    for f in source_fields:
        out_cols.append(
            env.getField("source").getField(f).alias(f"source_{f}")
        )
    passthrough = [
        F.col(c) for c in df.columns if c != envelope_col or not drop_envelope
    ]
    return df.select(*passthrough, *out_cols)


def cdc_snapshot(
    changes: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str] = ("cdc_ts_ms",),
) -> DataFrame:
    """Current-state table from unwrapped change rows: the latest image per
    key wins (ordered by ``order_cols`` — add the Kafka offset as a
    tiebreaker when ts_ms can collide), keys whose latest change is a
    delete disappear. One hash shuffle on the key with map-side combine
    (``max_by`` over the ordering struct); no window, no sort of the full
    changelog."""
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    ordering = F.struct(*[F.col(c) for c in order_cols])
    payload = F.struct(
        *[F.col(c) for c in changes.columns if c not in key_cols]
    )
    latest = (
        changes.groupBy(*[F.col(k) for k in key_cols])
        .agg(F.max_by(payload, ordering).alias("_latest"))
        .select(
            *key_cols,
            *[
                F.col(f"_latest.{c}")
                for c in changes.columns
                if c not in key_cols
            ],
        )
    )
    return latest.filter(~F.coalesce(F.col("deleted"), F.lit(False))).drop(
        "deleted"
    )


def scd2_history(
    changes: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str] = ("cdc_ts_ms",),
) -> DataFrame:
    """Slowly-changing-dimension Type 2 history from unwrapped change rows:
    one output row per ROW VERSION, carrying the interval it was current for.

    Where ``cdc_snapshot`` keeps only the latest image per key, a warehouse
    dimension usually needs the full history — "what did this row look like
    on date X". Standard SCD2 columns:

    - ``valid_from``: the first ``order_cols`` value (the change's own
      position in the changelog);
    - ``valid_to``: the NEXT change's ``valid_from`` for the same key
      (exclusive upper bound), null while the version is still open;
    - ``is_current``: 1 iff no later change exists (open interval).

    Delete events close the preceding version's interval but emit no row
    themselves — a deleted key has every interval closed and no current row,
    matching ``cdc_snapshot`` (which drops the key entirely).

    Plan shape: ONE window shuffle on the key (``lead`` over
    (key, order) — the minimum possible for interval stitching; the
    changelog is never self-joined). At 100 TB the window is key-partitioned
    so no single task sees more than one key group's history; skewed keys
    are bounded by per-key change counts, not corpus size. ``valid_from``
    exposes the first order column's value (callers wanting composite
    ordering still get deterministic interval STITCHING from all of
    ``order_cols``).
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(
        *[F.col(c) for c in order_cols]
    )
    first_order = order_cols[0]
    versioned = (
        changes.withColumn("valid_from", F.col(first_order))
        .withColumn("valid_to", F.lead("valid_from").over(w))
        .withColumn(
            "is_current",
            F.when(F.col("valid_to").isNull(), F.lit(1)).otherwise(F.lit(0)),
        )
    )
    return versioned.filter(
        ~F.coalesce(F.col("deleted"), F.lit(False))
    ).drop("deleted")
