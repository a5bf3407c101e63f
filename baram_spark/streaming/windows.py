"""Streaming windowed aggregations + event-time sessionization.

The trend/window operators of SURVEY §2.6 in their streaming form:

- ``windowed_counts``: tumbling/sliding event-time windows with a watermark
  for late data — the continuous version of ``trends.daily_counts``.
- ``sessionize_event_time``: TRUE event-time-gap sessions via Spark's
  native ``session_window`` + watermark — out-of-order/late events merge
  into the right session; a session closes when the watermark passes
  last_event + gap. This is the semantics the reference's time-slot
  grouping implies. Its open sessions live in the streaming engine's
  state store, evicted by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Event-time windowed counts + value sums with late-data watermark."""
    # watermarks require TIMESTAMP (with tz); parquet NTZ columns are cast
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), F.col(key_col).alias("key"))
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum(value_col), 6).alias("value_sum"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "key", "cnt", "value_sum",
        )
    )


def sessionize_event_time(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Event-time sessionization: a user's events belong to one session
    while consecutive EVENT timestamps are within ``gap_minutes``; the
    session closes when the watermark passes last_event + gap, so
    out-of-order events (within the watermark) merge into the correct
    session regardless of arrival order.

    Built on Spark's native ``session_window`` — fully incremental state
    in the streaming engine, no python state. ``session_end`` follows
    Spark's convention (last event + gap). Works identically on batch
    DataFrames (the watermark is a no-op there)."""
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(
                F.col(ts_col), f"{gap_minutes} minutes"
            ).alias("w"),
            F.col(user_col).alias("user_id"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(value_col), 6).alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )
