"""Watermarked event-time window aggregation as Structured Streaming
jobs (SURVEY.md §2.7 T6 — capability beyond the reference, which is
processing-time only).

The window expressions are the SAME ones the batch queries
(queries/streamlike.py) use — batch/stream equivalence is asserted in
tests, which is exactly how Spark guarantees the unified semantics.

State budgeting at scale: watermark bounds the live window state; keys
are (window, event_type) / the dedup keys — narrow, TTL'd by the
watermark, so state size is O(active windows), not O(events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1h tumbling windows per event_type with late-data watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def dedup_within_watermark(
    stream: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """CROSS-batch streaming dedup with TTL'd state — the upgrade over
    the reference's per-batch-only dedup (SURVEY §2.7 T2 note: its
    cross-batch duplicates are only absorbed later by the sink's merge).
    dropDuplicatesWithinWatermark keeps key state only until the
    watermark passes it: bounded state at 100 TB event volume."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)

