"""SyncJob change-loop semantics: batch/stream equivalence, cursor
protocol (peek-then-advance), replay idempotence."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from clockpipe_spark.cdc.changelog import changelog_from_events
from clockpipe_spark.cdc.ops import replica_state
from clockpipe_spark.config import PipeConfig, SourceTable, TableOptions
from clockpipe_spark.queries.streamlike import stream_tumbling_hourly
from clockpipe_spark.streaming.windows import tumbling_counts
from clockpipe_spark.sync_job import SyncJob


@pytest.fixture
def events_dir(spark, sf_dir, tmp_path):
    """Streaming sources need a directory; re-write the fixture events
    (with ts already normalized to micros) into one."""
    from clockpipe_spark.catalog import load_table

    d = str(tmp_path / "events_src")
    load_table(spark, sf_dir, "events").repartition(2).write.parquet(d)
    return d


TABLES = ("t0", "t1", "t2", "t3")


def _expected_replica(spark, events_dir):
    clog = changelog_from_events(spark.read.parquet(events_dir))
    return {
        r["user_id"]: (r["seq"], round(r["value"], 6))
        for r in replica_state(clog, ["user_id"]).collect()
    }


def _job(spark, events_dir, root, config=None):
    return SyncJob(
        spark, config or PipeConfig(), events_dir, root,
        changelog_fn=lambda s: changelog_from_events(s.read.parquet(events_dir)),
    )


def _replica(spark, job):
    """user_id -> (last_seq, value) over every routed table (a user_id
    routes to exactly one table)."""
    got = {}
    for tbl in TABLES:
        got.update(
            (r["user_id"], (r["last_seq"], round(r["value"], 6)))
            for r in job.store_for(tbl).read(spark).collect()
        )
    return got


def test_batch_pipe_matches_replica_state(spark, events_dir, tmp_path):
    """Draining the pipe in capped iterations must land on the same final
    state as the one-shot batch dedup-on-read view."""
    # peek cap 300 forces multiple iterations
    job = _job(
        spark, events_dir, str(tmp_path / "target"), PipeConfig(peek_changes_limit=300)
    )
    assert job.sync_loop() >= 4  # 1000 events / 300
    assert _replica(spark, job) == _expected_replica(spark, events_dir)


def test_pipe_cursor_advances_after_write(spark, events_dir, tmp_path, monkeypatch):
    """T2: every table's delta commit of an iteration sees the PREVIOUS
    cursor; the cursor moves to the batch's last seq only after all of
    them."""
    from clockpipe_spark.streaming.replica import ReplicaStore

    job = _job(spark, events_dir, str(tmp_path / "t2"), PipeConfig(peek_changes_limit=100))
    seen: list[int] = []
    real_append = ReplicaStore.append_delta

    def append(store, *args, **kwargs):
        seen.append(job.read_cursor())
        return real_append(store, *args, **kwargs)

    monkeypatch.setattr(ReplicaStore, "append_delta", append)
    assert job.read_cursor() == -1
    job.sync_iteration()
    c1 = job.read_cursor()
    assert c1 >= 0 and seen and set(seen) == {-1}
    seen.clear()
    job.sync_iteration()
    assert job.read_cursor() > c1 and seen and set(seen) == {c1}


def test_pipe_replay_is_idempotent(spark, events_dir, tmp_path):
    """Crash-between-write-and-advance (T2): re-applying the same batch
    must not change the state (keyed merge absorbs duplicates)."""
    job = _job(spark, events_dir, str(tmp_path / "t3"), PipeConfig(peek_changes_limit=500))
    job.sync_loop()
    before = _replica(spark, job)
    # simulate the crash: rewind the cursor and replay the last batch
    job.advance_cursor(400)
    assert job.sync_iteration()
    assert _replica(spark, job) == before


def test_streaming_pipe_matches_batch(spark, events_dir, tmp_path):
    """The foreachBatch form lands on the replica the cursor loop does."""
    streamed = _job(spark, events_dir, str(tmp_path / "t4"))
    streamed.run_stream(events_dir, str(tmp_path / "ckpt")).awaitTermination(120)
    batch = _job(spark, events_dir, str(tmp_path / "t4b"))
    batch.sync_loop()
    assert _replica(spark, streamed) == _replica(spark, batch)


def test_routed_streaming_matches_per_table_views(spark, events_dir, tmp_path):
    """run_stream lands each table's replica on its per-table FINAL
    view, with one table in a bucketed store."""
    from clockpipe_spark.streaming.bucketed_replica import BucketedReplicaStore

    bucketed = SourceTable("t2", table_options=TableOptions(sink_buckets=4))
    job = _job(spark, events_dir, str(tmp_path / "routed"), PipeConfig(tables=[bucketed]))
    job.run_stream(events_dir, str(tmp_path / "rckpt")).awaitTermination(180)
    assert isinstance(job.store_for("t2"), BucketedReplicaStore)
    clog = changelog_from_events(spark.read.parquet(events_dir))
    for tbl in TABLES:
        expected = {
            r["user_id"]: r["seq"]
            for r in replica_state(
                clog.filter(clog["tbl"] == tbl), ["user_id"]
            ).collect()
        }
        got = {
            r["user_id"]: r["last_seq"]
            for r in job.store_for(tbl).read(spark).collect()
        }
        assert got == expected, tbl


def test_streaming_window_matches_batch_query(spark, sf_dir, events_dir, tmp_path):
    """The watermarked streaming tumbling agg and the batch twin
    (oracle-checked) produce identical rows."""
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    agg = tumbling_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in stream_tumbling_hourly(spark, sf_dir).collect()
    }
    assert streamed == batch
