"""Seam-driven unit tests for the live-Postgres pipes — the protocol
corners a live PostgreSQL 15 cannot produce on demand (it already
skips empty transactions) or that are structural invariants:

- a skip-only peeked batch (B/C frames only) must ADVANCE the slot and
  report a non-drained pseudo-route, or the pipe stalls behind such
  traffic forever while claiming drained (PostgreSQL < 16 emits empty
  transactions for other tables' churn);
- write frames for a relation OID outside the configured tables must
  RAISE, never advance — the slot cannot rewind, so advancing past
  them is unrecoverable data loss;
- first_sync stamps snapshot rows with version 0 and never consults
  the WAL position (ANY WAL-derived stamp has a permanent-staleness
  window: peek reports record LSNs, not commit LSNs, so a transaction
  that wrote before the stamp but committed after the read's MVCC
  snapshot would replay below the stamp and lose the keep-last merge
  forever — version 0 makes every replayed change win instead).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clockpipe_spark.cdc.pgoutput import encode_begin, encode_commit, encode_insert
from clockpipe_spark.sources.jdbc_adapter import JdbcPostgresSource
from clockpipe_spark.streaming.live_pipe import SKIP_ONLY, LivePostgresRoutedPipe

_COLS_SCHEMA = (
    "column_index int, column_name string, data_type string, length int, "
    "nullable boolean, is_primary_key boolean, comment string"
)
_T_COLS = [
    (1, "id", "int4", 0, False, True, ""),
    (2, "v", "text", 0, True, False, ""),
]
_FRAME_SCHEMA = "lsn_txt string, xid_txt string, data_hex string"


class SeamDB:
    """Canned reader/sql_runner: introspection + a scripted frame batch
    per peek call, recording every DDL statement.  ``tables`` maps
    name -> (oid, snapshot rows); default is the single table t1."""

    def __init__(self, spark, frame_batches, tables=None):
        self.spark = spark
        self.frame_batches = list(frame_batches)
        self.tables = tables or {"t1": (500, [(1, "a")])}
        self.ddl: list[str] = []
        self.calls: list[str] = []

    def reader(self, options):
        q = options.get("query", "")
        if "information_schema.columns" in q:
            self.calls.append("introspect")
            return self.spark.createDataFrame(_T_COLS, _COLS_SCHEMA)
        if "peek_binary_changes" in q:
            batch = self.frame_batches.pop(0) if self.frame_batches else []
            return self.spark.createDataFrame(batch, _FRAME_SCHEMA)
        if "pg_class c JOIN pg_namespace" in q:
            return self.spark.createDataFrame(
                [(t, oid) for t, (oid, _) in self.tables.items()],
                "relname string, oid long",
            )
        if "pg_publication_tables" in q:
            return self.spark.createDataFrame(
                [("public", t) for t in self.tables],
                "schema_name string, table_name string",
            )
        if "pg_publication " in q:
            return self.spark.createDataFrame([("pub",)], "name string")
        if "pg_replication_slots" in q:
            return self.spark.createDataFrame(
                [("slot", "reserved")], "slot_name string, wal_status string"
            )
        if "pg_current_wal_lsn" in q:
            self.calls.append("stamp")
            return self.spark.createDataFrame([("0/1000",)], "lsn string")
        if options.get("dbtable"):
            self.calls.append("snapshot_read")
            t = options["dbtable"].split(".")[-1]
            return self.spark.createDataFrame(
                self.tables[t][1], "id int, v string"
            )
        return self.spark.createDataFrame([], "x string")

    def sql_runner(self, sql):
        self.ddl.append(sql)


def _hex(frame: bytes) -> str:
    return frame.hex()


def _pipe(spark, tmp_path, frame_batches, tables=None):
    db = SeamDB(spark, frame_batches, tables=tables)
    src = JdbcPostgresSource(
        spark, "jdbc:postgresql://unused/db",
        reader=db.reader, sql_runner=db.sql_runner,
    )
    pipe = LivePostgresRoutedPipe(
        spark, src, list(db.tables), str(tmp_path),
        publication="pub", slot="slot",
    )
    pipe.initialize()
    return pipe, db


def test_skip_only_batch_advances_and_is_not_drained(spark, tmp_path):
    skip_batch = [
        ("0/10", "7", _hex(encode_begin())),
        ("0/20", "7", _hex(encode_commit())),
        ("0/30", "8", _hex(encode_begin())),
        ("0/40", "8", _hex(encode_commit())),
    ]
    pipe, db = _pipe(spark, tmp_path, [skip_batch, []])
    out = pipe.sync_iteration()
    assert out == {SKIP_ONLY: {"frames": 4}}  # truthy: NOT drained
    advances = [d for d in db.ddl if "pg_replication_slot_advance" in d]
    assert advances == [
        "SELECT pg_replication_slot_advance('slot', '0/40')"
    ]
    assert pipe.sync_iteration() == {}  # now truly drained (zero frames)


def test_stray_relation_write_frames_raise_without_advancing(spark, tmp_path):
    stray_batch = [
        ("0/10", "7", _hex(encode_begin())),
        # relation oid 999 is NOT a configured table (t1 = 500)
        ("0/20", "7", _hex(encode_insert(999, [("t", "1", None)]))),
        ("0/30", "7", _hex(encode_commit())),
    ]
    pipe, db = _pipe(spark, tmp_path, [stray_batch])
    with pytest.raises(RuntimeError, match="unconfigured relation oids \\[999\\]"):
        pipe.sync_iteration()
    assert not any("pg_replication_slot_advance" in d for d in db.ddl)


def test_multi_relation_truncate_wipes_every_routed_table(spark, tmp_path):
    """A single 'TRUNCATE a, b' frame carries BOTH relids; each routed
    table's store must truncate (documented divergence from the
    reference's first-relid quirk — silent divergence of the second
    table is permanent data corruption in the routed deployment)."""
    from clockpipe_spark.cdc.pgoutput import encode_truncate

    batch = [
        ("0/10", "7", _hex(encode_begin())),
        ("0/20", "7", _hex(encode_truncate([500, 600]))),
        ("0/30", "7", _hex(encode_commit())),
    ]
    tables = {"t1": (500, [(1, "a")]), "t2": (600, [(2, "b")])}
    pipe, db = _pipe(spark, tmp_path, [batch], tables=tables)
    pipe.first_sync()
    out = pipe.sync_iteration()
    assert out["t1"]["T"] == 1 and out["t2"]["T"] == 1
    assert pipe.replica("t1").count() == 0
    assert pipe.replica("t2").count() == 0
    assert any("pg_replication_slot_advance" in d for d in db.ddl)


def test_pk_changing_update_splits_into_tombstone_plus_upsert(spark, tmp_path):
    """An UPDATE that moves the primary key (old 'K' tuple on the wire)
    must delete the OLD key and upsert the NEW one — exactly one row
    survives.  (The reference's ReplacingMergeTree sink leaves the
    stale old-key row behind; divergence documented in live_pipe.py.)"""
    from clockpipe_spark.cdc.pgoutput import encode_update

    batch = [
        ("0/10", "7", _hex(encode_begin())),
        # UPDATE t1 SET id = 2, v = 'moved' WHERE id = 1; replica
        # identity DEFAULT sends the old key as a 'K' tuple
        ("0/20", "7", _hex(encode_update(
            500,
            [("t", "2", None), ("t", "moved", None)],
            old_cells=[("t", "1", None), ("n", None, None)],
            old_marker=b"K",
        ))),
        ("0/30", "7", _hex(encode_commit())),
    ]
    pipe, db = _pipe(spark, tmp_path, [batch])
    pipe.first_sync()  # snapshot: (1, 'a')
    out = pipe.sync_iteration()
    assert out["t1"]["U"] == 1
    rows = [(r["id"], r["v"]) for r in pipe.replica("t1").collect()]
    assert rows == [(2, "moved")], (
        "old-key row must be tombstoned, new-key row upserted"
    )


def test_non_pk_update_with_full_old_tuple_does_not_tombstone(spark, tmp_path):
    """REPLICA IDENTITY FULL sends an 'O' old tuple on EVERY update —
    the split-tombstone must compare keys and leave same-key updates
    as plain upserts (a spurious tombstone at the same LSN would race
    the upsert in the keep-last merge)."""
    from clockpipe_spark.cdc.pgoutput import encode_update

    batch = [
        ("0/10", "7", _hex(encode_begin())),
        ("0/20", "7", _hex(encode_update(
            500,
            [("t", "1", None), ("t", "newv", None)],
            old_cells=[("t", "1", None), ("t", "a", None)],
            old_marker=b"O",
        ))),
        ("0/30", "7", _hex(encode_commit())),
    ]
    pipe, db = _pipe(spark, tmp_path, [batch])
    pipe.first_sync()
    pipe.sync_iteration()
    rows = [(r["id"], r["v"]) for r in pipe.replica("t1").collect()]
    assert rows == [(1, "newv")]


def test_daemon_mode_polls_through_empty_peeks(spark, tmp_path, monkeypatch):
    """daemon=True is the reference's run shape (pipes/postgres.rs:
    284-291): an empty peek sleeps when_peek_is_empty and keeps
    polling; max_iterations bounds POLLS in that mode.  Batches:
    empty, write, empty, empty -> 1 productive iteration, sleeps =
    [empty, after-iteration, empty, empty]."""
    import types

    from clockpipe_spark import sync_job
    from clockpipe_spark.config import PipeConfig

    write_batch = [
        ("0/10", "7", _hex(encode_begin())),
        ("0/20", "7", _hex(encode_insert(500, [("t", "2", None), ("t", "b", None)]))),
        ("0/30", "7", _hex(encode_commit())),
    ]
    pipe, db = _pipe(spark, tmp_path, [[], write_batch, [], []])
    pipe.first_sync()
    pipe.config = PipeConfig(
        sleep_millis_when_peek_is_empty=17_000,
        sleep_millis_after_sync_iteration=1_000,
    )
    slept: list[float] = []
    # patch the run loop's `time` reference only — a global time.sleep
    # patch also catches Spark/py4j internal polling (test_sync_job
    # lesson)
    monkeypatch.setattr(
        sync_job, "time", types.SimpleNamespace(sleep=slept.append)
    )
    done = pipe.sync_loop(max_iterations=4, sleep=True, daemon=True)
    assert done == 1
    assert slept == [17.0, 1.0, 17.0, 17.0]


def test_failed_iteration_is_retried_without_advancing(spark, tmp_path, caplog):
    """T3 (pipes/postgres.rs:433-452): a merge that fails once is
    retried by sync_loop; the failed attempt never advances the slot,
    so the retry re-peeks the same frames (the seam serves them twice,
    as a slot that was not advanced does) and the slot advances once.
    The retry logs one WARNING naming the failure class and attempt."""
    write_batch = [
        ("0/10", "7", _hex(encode_begin())),
        ("0/20", "7", _hex(encode_insert(500, [("t", "2", None), ("t", "b", None)]))),
        ("0/30", "7", _hex(encode_commit())),
    ]
    pipe, db = _pipe(spark, tmp_path, [write_batch, write_batch, []])
    pipe.first_sync()

    def advances():
        return [d for d in db.ddl if "pg_replication_slot_advance" in d]

    store = pipe.stores["t1"]
    real_merge = store.merge_changes
    advanced_at_merge: list[int] = []

    def flaky_merge(*args, **kwargs):
        advanced_at_merge.append(len(advances()))
        if len(advanced_at_merge) == 1:
            raise RuntimeError("injected merge failure")
        return real_merge(*args, **kwargs)

    store.merge_changes = flaky_merge
    assert pipe.sync_loop() == 1
    assert advanced_at_merge == [0, 0]  # no advance between the attempts
    assert advances() == ["SELECT pg_replication_slot_advance('slot', '0/30')"]
    rows = sorted((r["id"], r["v"]) for r in pipe.replica("t1").collect())
    assert rows == [(1, "a"), (2, "b")]
    warnings = [
        r.getMessage() for r in caplog.records
        if r.name == "clockpipe_spark.sync_job" and r.levelname == "WARNING"
    ]
    assert len(warnings) == 1
    assert "(WriteFailedError)" in warnings[0] and "attempt 1 of 3" in warnings[0]


def _apply_model(snapshot, ops):
    """Sequential reference model: dict of key -> row, ops applied in
    LSN order; an update with a changed key deletes the old key."""
    state = dict(snapshot)
    for op in ops:
        kind = op[0]
        if kind == "I":
            _, k, v = op
            state[k] = v
        elif kind == "U":
            _, old_k, new_k, v = op
            state.pop(old_k, None)
            state[new_k] = v
        elif kind == "D":
            _, k = op
            state.pop(k, None)
    return state


def _pk_move_batch(scenario):
    """Encode a scenario (list of ops) as one wire batch. Update ops
    carry the old key as a 'K' tuple when the key moved (replica
    identity DEFAULT wire behavior)."""
    from clockpipe_spark.cdc.pgoutput import (
        encode_delete,
        encode_insert,
        encode_update,
    )

    frames = [("0/1", "9", _hex(encode_begin()))]
    lsn = 16
    for op in scenario:
        kind = op[0]
        if kind == "I":
            _, k, v = op
            data = encode_insert(500, [("t", str(k), None), ("t", v, None)])
        elif kind == "U":
            _, old_k, new_k, v = op
            old = (
                [("t", str(old_k), None), ("n", None, None)]
                if old_k != new_k else None
            )
            data = encode_update(
                500, [("t", str(new_k), None), ("t", v, None)],
                old_cells=old, old_marker=b"K",
            )
        else:
            _, k = op
            data = encode_delete(500, [("t", str(k), None)])
        frames.append((f"0/{lsn:x}", "9", _hex(data)))
        lsn += 16
    frames.append((f"0/{lsn:x}", "9", _hex(encode_commit())))
    return frames


@pytest.mark.parametrize("scenario", [
    # forward chain: 1->2 then 2->3 in one batch
    [("U", 1, 2, "a2"), ("U", 2, 3, "a3")],
    # move-back: 1->2 then 2->1 (tombstone of 2 must beat its upsert)
    [("U", 1, 2, "b2"), ("U", 2, 1, "b1")],
    # move then delete the NEW key: nothing survives
    [("U", 1, 2, "c2"), ("D", 2)],
    # move, re-insert the vacated key, then move back ONTO it
    [("U", 1, 2, "d2"), ("I", 1, "fresh"), ("U", 1, 3, "d3")],
    # swap via temp key: 1->9, insert 1, 9->... delete 9
    [("U", 1, 9, "t"), ("I", 1, "new1"), ("D", 9)],
], ids=["chain", "move_back", "move_then_delete", "move_reinsert_move",
        "swap_via_temp"])
def test_pk_move_scenarios_match_sequential_model(
    spark, tmp_path, scenario
):
    """Adversarial same-batch PK-move churn: the split-tombstone apply
    under keep-last-by-LSN must equal a sequential one-op-at-a-time
    model (which is what the source database actually did)."""
    pipe, db = _pipe(spark, tmp_path, [_pk_move_batch(scenario)])
    pipe.first_sync()  # snapshot: {1: 'a'}
    pipe.sync_iteration()
    got = {r["id"]: r["v"] for r in pipe.replica("t1").collect()}
    assert got == _apply_model({1: "a"}, scenario)


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_randomized_churn_matches_sequential_model(spark, tmp_path, seed):
    """Seeded random op soup over a small key space — inserts, same-key
    updates, PK moves (only onto currently-free keys, as a real UNIQUE
    constraint would allow), deletes — one wire batch, replayed through
    the pipe, must equal the sequential model.  Randomization covers
    interleavings the five named scenarios don't enumerate."""
    import random

    rng = random.Random(seed)
    state = {1: "a"}  # mirrors the seam snapshot
    ops = []
    next_val = 0
    for _ in range(18):
        keys = sorted(state)
        free = [k for k in range(1, 8) if k not in state]
        choices = ["I"] * bool(free) + ["U", "UM"] * bool(keys) + ["D"] * bool(keys)
        if not choices:
            continue
        kind = rng.choice(choices)
        next_val += 1
        v = f"v{next_val}"
        if kind == "I":
            k = rng.choice(free)
            ops.append(("I", k, v))
            state[k] = v
        elif kind == "U":
            k = rng.choice(keys)
            ops.append(("U", k, k, v))
            state[k] = v
        elif kind == "UM" and free:
            old_k, new_k = rng.choice(keys), rng.choice(free)
            ops.append(("U", old_k, new_k, v))
            del state[old_k]
            state[new_k] = v
        else:
            k = rng.choice(keys)
            ops.append(("D", k))
            del state[k]
    pipe, db = _pipe(spark, tmp_path, [_pk_move_batch(ops)])
    pipe.first_sync()
    pipe.sync_iteration()
    got = {r["id"]: r["v"] for r in pipe.replica("t1").collect()}
    assert got == _apply_model({1: "a"}, ops), f"seed={seed} ops={ops}"


def test_first_sync_stamps_snapshot_rows_with_version_zero(spark, tmp_path):
    pipe, db = _pipe(spark, tmp_path, [])
    copied = pipe.first_sync()
    assert copied == {"t1": 1}
    # no WAL-derived stamp may be consulted: peek reports record LSNs,
    # not commit LSNs, so any WAL stamp loses changes from transactions
    # in flight across the stamp (see module docstring)
    assert "stamp" not in db.calls
    raw = pipe.stores["t1"].read_raw(spark).collect()
    assert [r["last_seq"] for r in raw] == [0], (
        "snapshot rows must carry version 0 so every replayed change "
        "(record LSN > 0) wins the keep-last merge"
    )


def test_missing_key_column_raises_before_any_write(spark, tmp_path):
    """A merge key the table's columns lack is a config fault: the
    iteration raises ValueError on its first attempt, before any write
    and without advancing the slot (a retry would fail the same way)."""
    write_batch = [
        ("0/10", "7", _hex(encode_begin())),
        ("0/20", "7", _hex(encode_insert(500, [("t", "2", None), ("t", "b", None)]))),
        ("0/30", "7", _hex(encode_commit())),
    ]
    db = SeamDB(spark, [write_batch, write_batch])
    src = JdbcPostgresSource(
        spark, "jdbc:postgresql://unused/db", reader=db.reader, sql_runner=db.sql_runner
    )
    pipe = LivePostgresRoutedPipe(
        spark, src, ["t1"], str(tmp_path), publication="pub", slot="slot",
        key_overrides={"t1": ["nope"]},
    )
    pipe.initialize()
    merges = []
    pipe.stores["t1"].merge_changes = lambda *a, **k: merges.append(a)
    with pytest.raises(ValueError, match=r"lacks merge-key columns \['nope'\]"):
        pipe.sync_loop()
    assert merges == [] and len(db.frame_batches) == 1  # one attempt
    assert not any("pg_replication_slot_advance" in d for d in db.ddl)
