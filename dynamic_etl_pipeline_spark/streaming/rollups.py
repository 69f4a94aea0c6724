"""Watermarked windowed aggregations over an unbounded events stream
(SURVEY §2.9): tumbling / sliding / session windows and late-data
dedup. Each mirrors the batch query in queries/events.py — same
expressions, same aliases — so a replay of the fixture must match the
batch (and therefore DuckDB-oracle) results exactly.

State sizing at scale: the watermark bounds how many windows stay open
per key, so state is O(open_windows x keys) regardless of stream
length; late rows beyond the watermark are dropped instead of growing
state.

``user_running_totals`` is the one unwindowed aggregate here: keyed by
user alone, its state is one row per user.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dsum(col: str) -> Column:
    """Deterministic double sum via exact decimal accumulation (same
    contract as queries/_helpers.dsum; duplicated here because queries/
    imports this module — importing back would be circular)."""
    return F.sum(F.col(col).cast("decimal(27,4)")).cast("double")


def user_running_totals(events: DataFrame) -> DataFrame:
    """Cumulative per-user event count + value total, emitted once per
    user per micro-batch in update mode (batch equivalent after a full
    replay: the same groupBy; DuckDB oracle:
    CAST(sum(CAST(value AS DECIMAL(27,4))) AS DOUBLE)).

    Keyed without event time, so no watermark applies: the state holds
    one row per user for the life of the stream. The decimal state sum
    is exact and order-independent, and the DOUBLE cast rounds once."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        dsum("value").alias("total_value"),
    )


def tumbling_rollup(events: DataFrame, width: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Hourly event_type rollup (streaming twin of events_hourly_rollup
    / events_tumbling_window)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("bucket"),
            "event_type", "n_events", "total_value",
        )
    )


def sliding_avg(events: DataFrame, width: str = "1 hour",
                slide: str = "30 minutes",
                watermark: str = "2 hours") -> DataFrame:
    """Sliding-window event rate (streaming twin of
    events_sliding_window)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events", "total_value",
        )
    )


def chained_hourly_6h(events: DataFrame,
                      watermark: str = "2 hours") -> DataFrame:
    """CHAINED stateful aggregation: hourly counts re-aggregated into
    6-hour totals inside ONE streaming query (two state stores, window
    over the first agg's window column). This is the streaming
    materialized-rollup hierarchy — the engine forwards the first agg's
    watermark through to the second, so both emit exactly once in
    append mode. Requires append output (complete is rejected for
    multiple stateful operators), so a drain needs the watermark pushed
    past the data's end — see queries/streaming.py's sentinel replay.
    """
    hourly = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w1"), "event_type")
        .agg(F.count("*").alias("n_hour"))
    )
    return (
        hourly.groupBy(F.window(F.col("w1"), "6 hours").alias("w2"), "event_type")
        .agg(F.sum("n_hour").alias("n_events"))
        .select(
            F.col("w2.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


def dedup_then_rollup(events: DataFrame, width: str = "1 hour",
                      watermark: str = "2 hours") -> DataFrame:
    """CHAINED stateful ops: watermarked key dedup feeding a windowed
    aggregation in the same streaming query — the exactly-once shape
    for an at-least-once source (Kafka redelivery, file replay): the
    dedup store absorbs redelivered event_ids, the agg sees each key
    once. Append-only (multiple stateful operators), so draining needs
    the watermark pushed past end of input."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("bucket"),
            "event_type", "n_events",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap
    (streaming twin of events_session_window; the native
    session_window op replaces the batch gaps-and-islands rewrite)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, key: str = "event_id",
                           watermark: str = "2 hours") -> DataFrame:
    """Drop replayed/duplicate events whose keys re-occur within the
    watermark horizon. Unlike a global dropDuplicates, state for a key
    is released once the watermark passes it — bounded state on an
    unbounded stream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        [key]
    )
