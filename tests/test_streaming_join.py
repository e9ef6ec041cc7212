"""Real stream-stream interval join (Structured Streaming, two
watermarked readStream sources) pinned equal to the batch join that the
oracle-checked stream_interval_join query aggregates — the T6 family's
two-stream correlation capability."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def _write_events(spark, path):
    """views + purchases with matches inside and outside the 1h bound:
    user 1 view@10:00 -> purchases 10:20 (in), 10:59:59 (in), 11:00
    (boundary, OUT: half-open); user 2 view@12:00 -> purchase 11:50
    (before view, OUT) and 12:30 (in); user 3 view with no purchases."""
    rows = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 10:20:00", 1, "purchase"),
        (3, "2024-01-01 10:59:59", 1, "purchase"),
        (4, "2024-01-01 11:00:00", 1, "purchase"),
        (5, "2024-01-01 12:00:00", 2, "view"),
        (6, "2024-01-01 11:50:00", 2, "purchase"),
        (7, "2024-01-01 12:30:00", 2, "purchase"),
        (8, "2024-01-01 09:00:00", 3, "view"),
    ]
    df = spark.createDataFrame(
        [(i, t, u, e, float(i), "{}") for i, t, u, e in rows],
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return df


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    src = str(tmp_path / "events_src")
    batch = _write_events(spark, src)

    views_b = batch.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("vts")
    )
    purch_b = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("pts") >= F.col("vts"))
        & (F.col("pts") < F.col("vts") + F.expr("INTERVAL 1 HOUR"))
    )
    expect = {
        (r["view_id"], r["purchase_id"])
        for r in views_b.join(purch_b, cond).collect()
    }
    assert expect == {(1, 2), (1, 3), (5, 7)}, "fixture must exercise bounds"

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    views_s = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("vts"),
        )
        .withWatermark("vts", "2 hours")
    )
    purch_s = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", "2 hours")
    )
    q = (
        views_s.join(purch_s, cond)
        .select("view_id", "purchase_id")
        .writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        got = set()
        while time.time() < deadline:
            got = {
                (r["view_id"], r["purchase_id"])
                for r in spark.sql("SELECT * FROM ssj_test").collect()
            }
            if got == expect:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert got == expect
