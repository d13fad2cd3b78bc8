"""Sessionization: gap-based event grouping, batch and streaming.

Three implementations, cheapest-first:

1. ``sessionize_batch`` — gaps-and-islands windows (lag + running sum); one
   shuffle on user_id; oracle-checkable SQL semantics.
2. ``session_window_stats`` — Spark's built-in ``F.session_window`` (the
   idiomatic Structured Streaming sessionizer; works in batch too). Used to
   cross-validate the built-in against the islands formulation.
3. ``stream_sessionize`` — custom stateful operator via
   ``applyInPandasWithState``: per-user session state carried across
   micro-batches, sessions emitted when the event-time watermark passes the
   gap (the shape the reference's flush-on-interval buffering maps onto when
   the grouping key is a session, SURVEY.md §2.3 flush barrier).

Scale notes: all three shuffle once on user_id. The stateful variant's state
store is RocksDB-backed per executor at scale; state size is O(active users),
not O(events). The watermark bounds both state retention and late-data wait.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.functions.numeric import stable_round


def sessionize_batch(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    value_col: str = "value",
    gap_minutes: int = 30,
) -> DataFrame:
    """One row per (user, session): session index, bounds, size, value sum.
    New session when the gap to the previous event exceeds ``gap_minutes``.

    lag + running-sum share one window spec → one shuffle + one sort.
    """
    gap_ms = gap_minutes * 60_000
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    prev = F.lag(ts_col).over(w)
    is_new = F.when(
        prev.isNull() | ((F.unix_millis(F.col(ts_col)) - F.unix_millis(prev)) > gap_ms),
        1,
    ).otherwise(0)
    marked = df.withColumn("_new", is_new)
    seq = F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    numbered = marked.withColumn("session_seq", seq)
    return (
        numbered.groupBy(user_col, "session_seq")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            stable_round(F.sum(value_col), 2).alias("session_value"),
        )
        .orderBy(user_col, "session_seq")
    )


def session_window_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
) -> DataFrame:
    """Spark-native sessionization: ``F.session_window`` merges per-user event
    windows separated by < gap. Streaming-ready as-is (add a watermark and the
    same expression runs under writeStream)."""
    return (
        df.groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(F.sum(value_col), 2).alias("session_value"),
        )
        .select(
            F.col(user_col),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
        .orderBy(user_col, "session_start")
    )


def tumbling_window_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    duration: str = "1 hour",
) -> DataFrame:
    """Event-time tumbling-window aggregation (the watermarked streaming agg
    shape, run in batch): one shuffle on (window, key), partial agg map-side."""
    return (
        df.groupBy(F.window(F.col(ts_col), duration).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(F.sum(value_col), 2).alias("window_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            key_col,
            "n_events",
            "window_value",
        )
        .orderBy("window_start", key_col)
    )


def stream_sessionize(
    records: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
):
    """Custom stateful sessionization over a stream: per-user session state via
    ``applyInPandasWithState`` with an event-time timeout.

    A session closes (and is emitted) when the watermark passes
    session_end + gap — i.e. no on-time event can extend it anymore. State per
    user is three longs; the state store scales with active users only.
    """
    import pandas as pd  # noqa: F401  (arrow batches arrive as pandas frames)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_minutes * 60_000
    out_schema = (
        f"{user_col} long, session_start long, session_end long, n_events long"
    )
    state_schema = "start long, last long, n long"

    def fn(key, pdf_iter, state: GroupState):
        (user,) = key
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield __import__("pandas").DataFrame(
                {
                    user_col: [user],
                    "session_start": [start],
                    "session_end": [last],
                    "n_events": [n],
                }
            )
            return

        start = last = None
        n = 0
        if state.exists:
            start, last, n = state.get
        closed = []
        ts_values = []
        for pdf in pdf_iter:
            ts_values.extend(int(v) for v in pdf["_ts_ms"])
        for t in sorted(ts_values):
            if last is not None and t - last > gap_ms:
                closed.append((user, start, last, n))
                start, last, n = t, t, 1
            else:
                start = t if start is None else start
                last = t
                n += 1
        state.update((start, last, n))
        # close the session once the watermark passes last + gap
        state.setTimeoutTimestamp(last + gap_ms)
        if closed:
            yield __import__("pandas").DataFrame(
                {
                    user_col: [c[0] for c in closed],
                    "session_start": [c[1] for c in closed],
                    "session_end": [c[2] for c in closed],
                    "n_events": [c[3] for c in closed],
                }
            )

    prepared = records.withWatermark(ts_col, watermark).withColumn(
        "_ts_ms", F.unix_millis(F.col(ts_col))
    )
    return prepared.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
