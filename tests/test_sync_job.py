"""Config-driven multi-table sync job: snapshot guards, masking,
per-table routing, CLI parity."""

from __future__ import annotations

import json
import os

from clockpipe_spark.cdc.changelog import changelog_from_events
from clockpipe_spark.cdc.ops import replica_state
from clockpipe_spark.catalog import load_table
from clockpipe_spark.config import PipeConfig, SourceTable
from clockpipe_spark.sync_job import SyncJob

CONFIG_JSON = json.dumps(
    {
        "source": {
            "source_type": "parquet_cdc",
            "tables": [
                {"table_name": "customer", "mask_columns": ["c_acctbal"]},
                {"table_name": "nation"},
                {"table_name": "region", "skip_copy": True},
            ],
            "peek_changes_limit": 400,
        },
        "sink": {"min_age_to_force_merge_seconds": 60},
    }
)


def test_config_from_json_reference_fields():
    cfg = PipeConfig.from_json(CONFIG_JSON)
    assert cfg.peek_changes_limit == 400
    assert cfg.tables[0].mask_columns == ["c_acctbal"]
    assert cfg.tables[2].skip_copy is True


def test_config_from_json_parses_every_backoff_class():
    """All four cadence knobs of the reference's source config load —
    the when_peek_is_empty and when_write_failed backoffs included."""
    cfg = PipeConfig.from_json(
        json.dumps(
            {
                "source": {
                    "sleep_millis_after_sync_iteration": 7,
                    "sleep_millis_when_peek_failed": 11,
                    "sleep_millis_when_peek_is_empty": 17,
                    "sleep_millis_when_write_failed": 13,
                    "copy_batch_size": 5,  # reference-only key: ignored
                }
            }
        )
    )
    assert (
        cfg.sleep_millis_after_sync_iteration,
        cfg.sleep_millis_when_peek_failed,
        cfg.sleep_millis_when_peek_is_empty,
        cfg.sleep_millis_when_write_failed,
    ) == (7, 11, 17, 13)


def test_sync_job_end_to_end(spark, sf_dir, tmp_path):
    cfg = PipeConfig.from_json(CONFIG_JSON)
    job = SyncJob(spark, cfg, sf_dir, str(tmp_path / "replica"))
    result = job.run()

    # snapshot: masked column NULL, skip_copy respected
    cust = job.store_for("customer").read(spark)
    assert result["copied"]["customer"] == cust.count() > 0
    assert cust.filter(cust["c_acctbal"].isNotNull()).count() == 0  # masked
    assert result["copied"]["region"] == 0
    assert job.store_for("region").read(spark) is None

    # change loop: per-table routed replicas match the batch FINAL view
    assert result["iterations"] >= 2  # 1000 events / 400 cap
    clog = changelog_from_events(load_table(spark, sf_dir, "events"))
    for tbl in ("t0", "t1", "t2", "t3"):
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


def test_sync_job_snapshot_idempotent(spark, sf_dir, tmp_path):
    cfg = PipeConfig.from_json(CONFIG_JSON)
    root = str(tmp_path / "replica2")
    job = SyncJob(spark, cfg, sf_dir, root)
    job.initialize()
    first = job.first_sync()
    again = job.first_sync()  # K6: non-empty target -> skip
    assert first["customer"] > 0 and again["customer"] == 0


def test_table_options_inheritance():
    from clockpipe_spark.config import TableOptions

    cfg = PipeConfig.from_json(
        json.dumps(
            {
                "source": {
                    "tables": [
                        {"table_name": "a"},
                        {
                            "table_name": "b",
                            "table_options": {"sink_buckets": 32, "granularity": 4096},
                        },
                    ]
                },
                "sink": {"sink_buckets": 8},
            }
        )
    )
    # blank table options inherit the global sink_buckets
    assert cfg.options_for(cfg.tables[0]).sink_buckets == 8
    # table-specific options win (docs/clickhouse/README.md)
    opts_b = cfg.options_for(cfg.tables[1])
    assert opts_b.sink_buckets == 32
    # always a copy — caller mutation must not alias per-table state
    opts_b.sink_buckets = 99
    assert cfg.options_for(cfg.tables[1]).sink_buckets == 32


def test_sync_job_bucketed_sink(spark, sf_dir, tmp_path):
    """sink_buckets > 0 routes state through BucketedReplicaStore with
    identical end results."""
    cfg_json = json.loads(CONFIG_JSON)
    cfg_json["sink"]["sink_buckets"] = 8
    cfg = PipeConfig.from_json(json.dumps(cfg_json))
    job = SyncJob(spark, cfg, sf_dir, str(tmp_path / "bucketed"))
    result = job.run()
    assert result["copied"]["customer"] > 0
    clog = changelog_from_events(load_table(spark, sf_dir, "events"))
    for tbl in ("t0", "t3"):
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


def test_retry_without_advance(spark, sf_dir, tmp_path):
    """T3: a write failure leaves the cursor untouched; the retry
    re-peeks the SAME batch and the final state is unaffected."""
    cfg = PipeConfig.from_json(CONFIG_JSON)
    job = SyncJob(spark, cfg, sf_dir, str(tmp_path / "retry"))
    job.initialize()

    real_iteration = job.sync_iteration
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] == 2:  # fail the second iteration once
            raise RuntimeError("injected sink failure")
        return real_iteration()

    job.sync_iteration = flaky
    iterations = job.sync_loop()
    assert calls["n"] >= 3  # iteration 2 ran twice (fail + retry)

    clog = changelog_from_events(load_table(spark, sf_dir, "events"))
    for tbl in ("t0", "t1"):
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


def test_backoff_classes_and_daemon_empty_peek(spark, sf_dir, tmp_path, monkeypatch):
    """The reference's three run-loop pacing classes (r9 parity wiring):
    a WRITE-phase failure backs off with sleep_millis_when_write_failed
    (pipes/postgres.rs:408-446), any other failure with
    sleep_millis_when_peek_failed (:277), and in daemon mode an empty
    peek sleeps sleep_millis_when_peek_is_empty and keeps polling
    (:284-291) instead of returning."""
    from clockpipe_spark import sync_job as sj

    cfg = PipeConfig.from_json(CONFIG_JSON)
    cfg.sleep_millis_when_peek_failed = 11_000
    cfg.sleep_millis_when_write_failed = 13_000
    cfg.sleep_millis_when_peek_is_empty = 17_000
    cfg.sleep_millis_after_sync_iteration = 1_000
    job = SyncJob(spark, cfg, sf_dir, str(tmp_path / "backoff"))
    job.initialize()

    import types

    slept: list[float] = []
    # patch sync_job's `time` module reference only — patching the
    # global time.sleep also catches Spark/py4j internal polling loops
    fake_time = types.SimpleNamespace(sleep=slept.append, time=sj.time.time)
    monkeypatch.setattr(sj, "time", fake_time)

    real_iteration = job.sync_iteration
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:
            raise sj.WriteFailedError("injected write failure")
        if calls["n"] == 2:
            raise RuntimeError("injected peek failure")
        return real_iteration()

    job.sync_iteration = flaky
    job.sync_loop(sleep=True)
    assert slept[0] == 13.0, "write failure must use when_write_failed"
    assert slept[1] == 11.0, "peek failure must use when_peek_failed"
    assert slept.count(1.0) >= 1  # after_sync_iteration pacing

    # daemon mode: drained log -> empty-peek sleeps, loop keeps polling
    # until the poll budget runs out (never breaks on empty)
    slept.clear()
    done = job.sync_loop(sleep=True, daemon=True, max_iterations=3)
    assert done == 0  # nothing new to sync
    assert slept == [17.0, 17.0, 17.0]


def test_write_phase_failure_is_tagged(spark, sf_dir, tmp_path):
    """A merge-phase crash must surface as WriteFailedError (cursor
    untouched) so the loop picks the write-failed backoff class."""
    import pytest

    from clockpipe_spark.sync_job import WriteFailedError

    cfg = PipeConfig.from_json(CONFIG_JSON)
    job = SyncJob(spark, cfg, sf_dir, str(tmp_path / "tagged"))
    job.initialize()
    before = job.read_cursor()
    real_store_for = job.store_for
    job.store_for = lambda tbl: (_ for _ in ()).throw(
        RuntimeError("injected merge crash")
    )
    with pytest.raises(WriteFailedError, match="injected merge crash"):
        job.sync_iteration()
    assert job.read_cursor() == before  # T2: not advanced
    job.store_for = real_store_for


def test_cli_run(spark, sf_dir, tmp_path, capsys):
    from clockpipe_spark.__main__ import main

    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as f:
        f.write(CONFIG_JSON)
    rc = main(
        [
            "run",
            "--config-file", cfg_path,
            "--source-dir", sf_dir,
            "--target-root", str(tmp_path / "cli_replica"),
            "--max-iterations", "1",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["iterations"] == 1 and out["copied"]["customer"] > 0


def test_bucketed_snapshot_without_merge_keys_raises(spark, tmp_path):
    """A bucketed snapshot hashes by the merge keys, so one that lacks
    them must raise before anything is written — never bucket by some
    other column and merge later changes by the wrong key."""
    import pytest

    from clockpipe_spark.config import TableOptions

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "x")], "a long, b string").write.parquet(
        os.path.join(src, "keyless.parquet")
    )
    table = SourceTable("keyless", table_options=TableOptions(sink_buckets=4))
    job = SyncJob(spark, PipeConfig(tables=[table]), src, str(tmp_path / "target"))
    with pytest.raises(ValueError, match=r"lacks merge-key columns \['user_id'\]"):
        job.first_sync()
    store = job.store_for("keyless")
    assert store.current_version() == -1 and os.listdir(store.root) == []


def test_within_batch_churn_without_pre_dedup(spark, tmp_path):
    """One iteration whose peek covers the whole log: several updates per
    key, a delete-then-reinsert, a delete at the end and redelivered
    seqs. The stores' own keep-last settles the batch on both sinks."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from clockpipe_spark.config import TableOptions

    churn = [
        ("I", 1, 1.0), ("U", 1, 2.0), ("U", 1, 3.0),  # updates of one key
        ("I", 2, 10.0), ("D", 2, None), ("I", 2, 20.0),  # delete, reinsert
        ("I", 3, 30.0), ("D", 3, None),  # deleted by the batch's end
        ("I", 4, 40.0),
    ]
    rows = []
    for base, tbl in ((0, "flat"), (100, "bkt")):
        for i, (op, uid, value) in enumerate(churn, start=1):
            rows.append((tbl, base + i, op, uid, value))
        rows += [(tbl, base + 7, "I", 3, 30.0), (tbl, base + 9, "I", 4, 40.0)]  # redelivered
    clog = spark.createDataFrame(
        rows, "tbl string, seq long, op string, user_id long, value double"
    ).withColumn("ts", F.lit(datetime(2024, 1, 1)))
    cfg = PipeConfig(
        tables=[
            SourceTable("flat"),
            SourceTable("bkt", table_options=TableOptions(sink_buckets=4)),
        ],
        peek_changes_limit=1000,
    )
    job = SyncJob(spark, cfg, str(tmp_path), str(tmp_path / "churn"), changelog_fn=lambda s: clog)
    counters = job.sync_iteration()
    assert sum(counters.values()) == len(rows)
    assert job.read_cursor() == 109
    for tbl in ("flat", "bkt"):
        expected = {
            r["user_id"]: (r["seq"], r["value"])
            for r in replica_state(clog.filter(clog["tbl"] == tbl), ["user_id"]).collect()
        }
        got = {
            r["user_id"]: (r["last_seq"], r["value"])
            for r in job.store_for(tbl).read(spark).collect()
        }
        assert got == expected, tbl
        assert set(got) == {1, 2, 4}, tbl


def _routed_log() -> list[tuple]:
    """Three iterations of a five-table log (peek cap 24) as ``(tbl,
    seq, op, user_id, event_id, value)``. The first seeds six keys per
    ``user_id`` table; the second churns ``flat`` and ``bkt`` (updates
    of one key, a delete-then-reinsert, a delete at the end, redelivered
    seqs) on the SAME user_ids, holds only a TRUNCATE for ``gone``, and
    a TRUNCATE for ``mid`` with changes before and after it. The third
    routes two merge-key tuples in one batch: ``events`` (registered PK
    ``event_id``) churns around a mid-batch TRUNCATE between ``flat`` and
    ``bkt`` changes (seqs 41-47 are a gap in the log)."""
    tables = ("flat", "bkt", "gone", "mid")
    rows = [(tables[i % 4], i + 1, "I", i // 4, None, float(i + 1)) for i in range(24)]
    second = [
        ("flat", "U", 0), ("bkt", "U", 0), ("gone", "T", None), ("mid", "U", 1),
        ("flat", "U", 0), ("bkt", "D", 1), ("mid", "T", None), ("flat", "D", 2),
        ("bkt", "I", 1), ("mid", "I", 9), ("flat", "I", 2), ("mid", "U", 1),
        ("bkt", "U", 0), ("flat", "D", 5), ("bkt", "D", 5), ("mid", "D", 9),
    ]
    for i, (tbl, op, uid) in enumerate(second, start=25):
        rows.append((tbl, i, op, uid, None, None if op == "T" else float(i)))
    third = [
        ("events", "I", 1), ("flat", "U", 3), ("events", "I", 2), ("bkt", "U", 4),
        ("events", "U", 1), ("events", "T", None), ("flat", "D", 3), ("events", "I", 2),
        ("events", "U", 3), ("bkt", "I", 7), ("events", "D", 2), ("events", "I", 4),
    ]
    for i, (tbl, op, key) in enumerate(third, start=48):
        uid, eid = (None, key) if tbl == "events" else (key, None)
        rows.append((tbl, i, op, uid, eid, None if op == "T" else float(i)))
    # at-least-once redelivery: the same change twice
    rows += [r for r in rows if r[1] in (26, 35, 55)]
    return rows


def test_routed_write_matches_per_table_views(spark, tmp_path):
    """One routed write per merge-key tuple and iteration lands every
    table — one-bucket and 4-bucket, sharing user_ids, keyed by
    ``user_id`` or by ``event_id`` in the same batch, truncated whole or
    mid-batch — on the FINAL view of its own changes after its last
    TRUNCATE, and records the delta schema ``merge_changes`` records for
    the same batch."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from clockpipe_spark.config import TableOptions
    from clockpipe_spark.streaming.replica import ReplicaStore

    path = str(tmp_path / "changes")
    spark.createDataFrame(
        _routed_log(),
        "tbl string, seq long, op string, user_id long, event_id long, value double",
    ).withColumn("ts", F.lit(datetime(2024, 1, 1))).write.parquet(path)
    clog = spark.read.parquet(path)
    four = TableOptions(sink_buckets=4)
    cfg = PipeConfig(
        tables=[
            SourceTable("flat"),
            SourceTable("bkt", table_options=four),
            SourceTable("gone", table_options=four),
            SourceTable("mid"),
            SourceTable("events", table_options=four),
        ],
        peek_changes_limit=24,
    )
    job = SyncJob(spark, cfg, str(tmp_path), str(tmp_path / "routed"), changelog_fn=lambda s: clog)
    assert job.sync_loop() == 3
    assert job.read_cursor() == 59

    for tbl in ("flat", "bkt", "gone", "mid", "events"):
        key = "event_id" if tbl == "events" else "user_id"
        merged = ReplicaStore(str(tmp_path / f"merged_{key}_{tbl}"))
        merged.merge_changes(spark, clog.select("seq", "op", key, "value", "ts"), [key])
        schema = merged.read_manifest()["__deltas__"][-1]["schema"]
        own = clog.filter(clog["tbl"] == tbl)
        last_t = own.filter(own["op"] == "T").agg(F.max("seq")).first()[0]
        if last_t is not None:
            own = own.filter(own["seq"] > last_t)
        expected = sorted((r[key], r["seq"], r["value"]) for r in replica_state(own, [key]).collect())
        store = job.store_for(tbl)
        got = sorted((r[key], r["last_seq"], r["value"]) for r in store.read(spark).collect())
        assert got == expected, tbl
        deltas = store.read_manifest().get("__deltas__", [])
        assert all(d["schema"] == schema for d in deltas), tbl
    assert job.store_for("gone").read(spark).count() == 0
    assert len(job.store_for("bkt").read_manifest()["__deltas__"]) == 3
    assert len(job.store_for("events").read_manifest()["__deltas__"]) == 1


def test_reserved_table_name_fails_fast(spark, tmp_path):
    """A table named like the routed write's staging dir would have its
    store overwritten by every routed write: it is refused with a
    ValueError before any write, and the cursor stays."""
    import pytest
    from pyspark.sql import functions as F

    from clockpipe_spark.sync_job import STAGING_DIR

    clog = spark.createDataFrame(
        [("a", 1, "I", 1, 1.0), (STAGING_DIR, 2, "I", 2, 2.0)],
        "tbl string, seq long, op string, user_id long, value double",
    ).withColumn("ts", F.current_timestamp())
    cfg = PipeConfig(tables=[SourceTable("a"), SourceTable(STAGING_DIR)])
    job = SyncJob(spark, cfg, str(tmp_path), str(tmp_path / "target"), changelog_fn=lambda s: clog)
    with pytest.raises(ValueError, match="reserved"):
        job.sync_loop()
    assert job.read_cursor() == -1
    assert job.store_for("a").current_version() == -1
    assert not os.path.exists(job.staging_dir)


def test_missing_merge_key_fails_fast(spark, tmp_path):
    """A changelog without a table's merge-key column is a config fault a
    replay cannot mend: the run loop raises its ValueError on the first
    attempt, the cursor stays, and no delta dir is written."""
    import pytest
    from pyspark.sql import functions as F

    from clockpipe_spark.config import TableOptions

    clog = spark.createDataFrame(
        [("a", 1, "I", 1, 1.0), ("b", 2, "I", 2, 2.0)],
        "tbl string, seq long, op string, uid long, value double",
    ).withColumn("ts", F.current_timestamp())
    cfg = PipeConfig(
        tables=[SourceTable("a"), SourceTable("b", table_options=TableOptions(sink_buckets=4))]
    )
    job = SyncJob(spark, cfg, str(tmp_path), str(tmp_path / "keyless"), changelog_fn=lambda s: clog)
    calls = []
    real_iteration = job.sync_iteration
    job.sync_iteration = lambda: calls.append(1) or real_iteration()
    with pytest.raises(ValueError, match=r"lacks merge-key columns \['user_id'\]"):
        job.sync_loop()
    assert len(calls) == 1
    assert job.read_cursor() == -1
    for tbl in ("a", "b"):
        root = job.store_for(tbl).root
        assert job.store_for(tbl).current_version() == -1
        assert not [d for d in os.listdir(root) if d.startswith("d_")], tbl
