"""Windowed operational metrics + alert rules.

The reference's ops analytics are KQL queries over Application
Insights traces: tumbling ``bin(timestamp, 1h)`` / 15-minute rollups
of connections, transfers and failures, and threshold alerts
("failures > 5 per 15 min") — monitoring/sftp-monitoring-queries.md:
16-23,54,93,153-169. Here they are window aggregations that run
unchanged in batch and, with a watermark, in streaming.

Every transform takes a plain events DataFrame
(event_id, ts, user_id, event_type, value, props) — batch callers pass
a parquet scan, streaming callers pass readStream + withWatermark.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dsum(c: Column) -> Column:
    # order-independent exact sum of doubles (associative decimal adds)
    return F.sum(c.cast("decimal(18,4)")).cast("double")


def hourly_rollup(events: DataFrame) -> DataFrame:
    """KQL ``summarize count(), countif(fail) by bin(ts, 1h)``
    (sftp-monitoring-queries.md:21,89-94) as a tumbling window."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_rollup(
    events: DataFrame, length: str = "1 hour", slide: str = "15 minutes"
) -> DataFrame:
    """Sliding-window rollup — each event lands in length/slide
    overlapping windows. The KQL dashboards approximate trends with
    repeated tumbling queries; sliding windows are the engine-native
    version (free in Spark, SURVEY §2.9)."""
    return (
        events.groupBy(F.window("ts", length, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_rollup(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows (gap-based). No reference equivalent —
    its per-partner "sessions" are whatever one SFTP function
    invocation did — but session analytics over the same event stream
    is the idiomatic replacement. ``session_window`` merges events
    closer than ``gap``; window.start == min(ts) of the session."""
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "last_ts",
            "n_events",
        )
    )


def failure_alerts(
    events: DataFrame,
    threshold: int = 5,
    window: str = "15 minutes",
    error_type: str = "error",
) -> DataFrame:
    """Threshold alert rule: > ``threshold`` failures in a window
    (sftp-monitoring-queries.md:153-159,161-169). In streaming this is
    an update-mode aggregation filtered on the count — rows appear the
    moment a window crosses the threshold."""
    return (
        events.filter(F.col("event_type") == error_type)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_failures"))
        .filter(F.col("n_failures") > threshold)
        .select(F.col("w.start").alias("window_start"), "n_failures")
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str] | None = None,
    event_time_col: str = "ts",
    delay: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps a key's fingerprint only
    until the watermark passes it, so state is O(keys-per-delay-window)
    instead of O(all keys ever) — the only dedup form that survives an
    unbounded stream. Emits the FIRST arrival of each key; duplicates
    arriving within the watermark window are dropped, later ones are
    the upstream's replay problem (at-least-once sources re-send within
    their retention, which the delay must cover).

    Batch twin for tests: ``dropDuplicates(keys)`` over the same rows
    (equal when all duplicates fall inside the watermark window).
    """
    if keys is None:
        keys = ["event_id"]
    from ai_fabric_etl_spark.operators.timeutil import as_instant_col

    return (
        events.withColumn(event_time_col, as_instant_col(events, event_time_col))
        .withWatermark(event_time_col, delay)
        .dropDuplicatesWithinWatermark(keys)
    )
