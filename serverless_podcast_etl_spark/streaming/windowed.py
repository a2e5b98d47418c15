"""Event-time windowed aggregation with watermarking.

The reference has no time windows (SURVEY §2.9 — its only window is
the 50-row W1 frame), but an engine ingesting event streams at scale
needs tumbling/sliding event-time aggregates with bounded state; this
is the standard Structured Streaming formulation: watermark bounds
how late data may arrive, window buckets by event time, and the same
expression runs identically in batch (watermark ignored).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Tumbling 5-minute event-time counts + value sums per event_type
    over the ``ts`` column.

    Works on both batch and streaming DataFrames: on a stream a
    10-minute watermark bounds state (windows older than max(event
    time) − 10 minutes are finalized and dropped); in batch Spark
    computes every window.  Window starts align to the epoch, matching
    SQL ``time_bucket`` semantics.
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", "10 minutes")
    win = F.window(F.col("ts"), "5 minutes")
    return (
        df.groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_event_stats(events: DataFrame) -> DataFrame:
    """Session windows: events of one ``user_id`` closer than 30
    minutes (by ``ts``) merge into one session (Spark
    ``session_window``; batch and streaming, a 1-hour watermark on a
    stream).

    Session start = first event; per-session count and value sum.  The
    batch form is oracle-expressible as the classic gaps-and-islands
    SQL (lag → new-session flag → cumulative session id), which is
    exactly how q40's DuckDB twin verifies it.
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", "1 hour")
    win = F.session_window(F.col("ts"), "30 minutes")
    return (
        df.groupBy(win, "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("user_id"),
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )
