"""TOAST backfill, TRUNCATE propagation, schema evolution, Mongo
first-type-wins inference."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clockpipe_spark.cdc.mongo_schema import (
    infer_first_type_wins,
    project_collection,
)
from clockpipe_spark.cdc.ops import fill_unchanged_toast
from clockpipe_spark.config import PipeConfig


def test_toast_backfill(spark):
    # pgoutput.rs:517-551: unchanged ('u') cells arrive NULL and are
    # back-filled from the previous tuple per key
    df = spark.createDataFrame(
        [
            (1, 1, "big-value", 1.0),
            (2, 1, None, 2.0),        # TOAST col unchanged in this update
            (3, 1, "new-value", 3.0),
            (4, 1, None, 4.0),
            (1, 2, None, 9.0),        # never seen -> stays NULL (+ warn path)
        ],
        "seq long, user_id long, blob string, value double",
    )
    got = {
        (r["user_id"], r["seq"]): r["blob"]
        for r in fill_unchanged_toast(df, ["user_id"], ["blob"]).collect()
    }
    assert got[(1, 1)] == "big-value"
    assert got[(1, 2)] == "big-value"
    assert got[(1, 3)] == "new-value"
    assert got[(1, 4)] == "new-value"
    assert got[(2, 1)] is None


def test_toast_backfill_marker_preserves_explicit_null(spark):
    # with a 'u'-marker companion column, only MARKED cells back-fill;
    # a genuine UPDATE ... SET col = NULL stays NULL (pgoutput.rs:517-551
    # distinguishes Unchanged from Null — ADVICE round-1 divergence fix)
    df = spark.createDataFrame(
        [
            (1, 1, "big-value", False),
            (2, 1, None, True),    # 'u' marker: unchanged TOAST -> backfill
            (3, 1, None, False),   # explicit SET col = NULL -> stays NULL
            (4, 1, None, True),    # unchanged after a real NULL -> NULL
            (5, 1, "fresh", False),
            (6, 1, None, True),    # backfills the fresh value
        ],
        "seq long, user_id long, blob string, blob__unchanged boolean",
    )
    out = fill_unchanged_toast(df, ["user_id"], ["blob"])
    assert "blob__unchanged" not in out.columns  # marker is transport-only
    got = {r["seq"]: r["blob"] for r in out.collect()}
    assert got == {
        1: "big-value",
        2: "big-value",
        3: None,
        4: None,
        5: "fresh",
        6: "fresh",
    }


@pytest.fixture
def truncate_events(spark, tmp_path):
    """Synthetic event log whose 'view' events we re-map to truncates by
    writing an explicit changelog-shaped events table."""
    rows = [
        # (event_id, ts_ignored, user_id, event_type, value, props)
        (1, "signup", 1, 10.0),
        (2, "signup", 2, 20.0),
        (3, "truncate", 0, 0.0),
        (4, "signup", 3, 30.0),
        (5, "purchase", 3, 35.0),
    ]
    df = spark.createDataFrame(
        [(i, None, u, t, v, None) for i, t, u, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "trunc_events")
    df.write.parquet(d)
    return d


def test_truncate_propagation(spark, truncate_events, tmp_path):
    """K3 through SyncJob on a flat and on a bucketed store: a TRUNCATE
    wipes the table and only rows after it survive, whether it lands
    after committed state (peek cap 2: batches 1 | 2-3 | 4-5) or
    mid-batch behind same-batch rows (peek cap 10: one batch)."""
    from clockpipe_spark.config import SourceTable, TableOptions
    from clockpipe_spark.sync_job import SyncJob

    def changelog(s):
        ev = s.read.parquet(truncate_events)
        return ev.select(
            F.col("event_id").alias("seq"),
            F.when(F.col("event_type") == "truncate", "T")
            .when(F.col("event_type") == "signup", "I")
            .otherwise("U")
            .alias("op"),
            F.lit("t0").alias("tbl"),
            "user_id",
            "value",
            "ts",
            "props",
        )

    for buckets in (None, 4):
        for cap in (2, 10):
            table = SourceTable("t0", table_options=TableOptions(sink_buckets=buckets))
            job = SyncJob(
                spark,
                PipeConfig(tables=[table], peek_changes_limit=cap),
                str(tmp_path),
                str(tmp_path / f"t_{buckets}_{cap}"),
                changelog_fn=changelog,
            )
            job.sync_loop()
            rows = job.store_for("t0").read(spark).collect()
            got = {r["user_id"]: r["value"] for r in rows}
            # rows 1 and 2 wiped by the truncate at seq 3; only user 3 survives
            assert got == {3: 35.0}, (buckets, cap)


def test_schema_evolution_new_column(spark, tmp_path):
    """K5: a new column appearing mid-stream evolves the replica schema;
    old rows carry NULL."""
    from clockpipe_spark.streaming.replica import ReplicaStore

    store = ReplicaStore(str(tmp_path / "evo"))
    batch1 = spark.createDataFrame(
        [(1, "I", 1, 10.0)], "seq long, op string, user_id long, value double"
    )
    store.merge_changes(spark, batch1, ["user_id"])
    batch2 = spark.createDataFrame(
        [(2, "I", 2, 20.0, "new!")],
        "seq long, op string, user_id long, value double, extra string",
    )
    store.merge_changes(spark, batch2, ["user_id"])
    got = {r["user_id"]: r for r in store.read(spark).collect()}
    assert got[2]["extra"] == "new!"
    assert got[1]["extra"] is None  # old rows NULL-filled
    # dropped column: batch without 'extra' keeps the column in state
    batch3 = spark.createDataFrame(
        [(3, "I", 9, 90.0)], "seq long, op string, user_id long, value double"
    )
    store.merge_changes(spark, batch3, ["user_id"])
    assert "extra" in store.read(spark).columns


def test_mongo_first_type_wins(spark):
    docs = spark.createDataFrame(
        [
            (1, '{"a": 1, "b": "x"}'),
            (2, '{"a": "not-an-int", "c": 1.5, "d": null}'),
            (3, '{"a": 7, "e": true}'),
        ],
        "seq long, props string",
    )
    schema = infer_first_type_wins(docs, "props", "seq")
    by_field = {f: t for f, t, _ in schema}
    assert by_field == {"a": "bigint", "b": "string", "c": "double", "e": "boolean"}
    assert "d" not in by_field  # null-typed field skipped (Unknown)
    # append-only order: first-seen order preserved
    assert [f for f, _, _ in schema] == ["a", "b", "c", "e"]

    out = {r["seq"]: r for r in project_collection(docs, schema).collect()}
    assert out[1]["a"] == 1 and out[1]["b"] == "x"
    assert out[2]["a"] == 0          # conflict -> zeroed, never widened
    assert out[2]["c"] == 1.5
    assert out[1]["c"] is None       # missing -> NULL
    assert out[3]["e"] is True
