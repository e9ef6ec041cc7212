"""Replay contract at the commit boundaries of the replica store and of
the corpus ingest.

Replica store: a manifest commit that raises once — after its data
files were written — is retried by the run loop without advancing the
cursor (or replayed from the streaming checkpoint without committing
the micro-batch's offsets), and every table's FINAL view ends equal to
a clean run's, on a one-bucket and a 4-bucket store. The live Postgres
pipe's slot advance raising once, after every table's merge of the
iteration committed, replays the same way.

Corpus ingest: one write at each state-log or corpus boundary raises
once (after one write at that point has landed); replaying the failed
batch under the same ``batch_id`` ends with the same corpus, admitted
ids and per-batch admitted counts as a clean run."""

from __future__ import annotations

import os
import random
import sys
import threading
from datetime import datetime, timedelta

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from test_live_pipe_unit import SeamDB

from clockpipe_spark.cdc.pgoutput import (
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_update,
)
from clockpipe_spark.config import PipeConfig, SourceTable, TableOptions
from clockpipe_spark.sources.jdbc_adapter import JdbcPostgresSource, lsn_from_text
from clockpipe_spark.streaming.bucketed_replica import BucketedReplicaStore
from clockpipe_spark.streaming.corpus_ingest import CorpusIngestPipeline
from clockpipe_spark.streaming.live_pipe import LivePostgresRoutedPipe
from clockpipe_spark.streaming.neardup_state import StreamingNearDup
from clockpipe_spark.streaming.rollup import ContinuousRollup
from clockpipe_spark.sync_job import SyncJob, run_sync_loop

TABLES = ("fa", "fb")
CAP = 10  # 80 events -> 8 iterations, each touching both tables
COMPACT_EVERY = 3


def _clog(spark):
    rng = random.Random(7)
    rows = [
        (TABLES[seq % 2], seq, rng.choice("IIUUUD"), rng.randrange(12), float(seq))
        for seq in range(80)
    ]
    return spark.createDataFrame(
        rows, "tbl string, seq long, op string, user_id long, value double"
    ).withColumn("ts", F.lit(datetime(2024, 1, 1)))


def _events(spark):
    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(minutes=7 * i), "abc"[i % 3], i * 0.5) for i in range(1, 61)
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )


class _OneFault:
    """Makes ``owner.method`` (default ``BucketedReplicaStore._commit``)
    raise once, on the first call ``when(caller, log, cursor)`` selects.
    ``log`` lists the successful calls so far as (calling method, cursor
    at the call)."""

    def __init__(self, monkeypatch, when, cursor, owner=BucketedReplicaStore, method="_commit"):
        self.when = when
        self.cursor = cursor
        self.log: list[tuple[str, object]] = []
        self.fired = False
        self._lock = threading.Lock()  # merges commit from pool threads
        real = getattr(owner, method)

        def call(obj, *args):
            caller = sys._getframe(1).f_code.co_name
            with self._lock:
                if not self.fired and self.when(caller, self.log, self.cursor()):
                    self.fired = True
                    raise OSError(f"injected {method} failure in {caller}")
                out = real(obj, *args)
                self.log.append((caller, self.cursor()))
                return out

        monkeypatch.setattr(owner, method, call)


def _sync_run(spark, root, buckets, monkeypatch=None, when=None):
    opts = TableOptions(sink_buckets=buckets)
    cfg = PipeConfig(
        tables=[SourceTable(t, table_options=opts) for t in TABLES], peek_changes_limit=CAP
    )
    clog = _clog(spark)
    job = SyncJob(spark, cfg, root, root, changelog_fn=lambda s: clog)
    for t in TABLES:
        job.store_for(t).compact_every = COMPACT_EVERY
    fault = when and _OneFault(monkeypatch, when, job.read_cursor)
    assert job.sync_loop() == 80 // CAP
    assert fault is None or fault.fired, "the injection point was never reached"
    return {
        t: sorted(tuple(r) for r in job.store_for(t).read(spark).collect()) for t in TABLES
    }


def _rollup_run(spark, root, buckets, monkeypatch=None, when=None):
    rollup = ContinuousRollup(root)
    if buckets:
        rollup.store = BucketedReplicaStore(root, n_buckets=buckets)
    events = _events(spark)
    cursor = {"at": 0}

    def iteration():
        lo = cursor["at"]
        if lo >= 60:
            return {}
        rollup.apply_batch(
            spark, events.filter((F.col("event_id") > lo) & (F.col("event_id") <= lo + 15))
        )
        cursor["at"] = lo + 15
        return {"events": 15}

    fault = when and _OneFault(monkeypatch, when, lambda: cursor["at"])
    assert run_sync_loop(iteration, PipeConfig()) == 4
    assert fault is None or fault.fired, "the injection point was never reached"
    return {"rollup": sorted(tuple(r) for r in rollup.read(spark).collect())}


def _stream_events(spark, part):
    """Half of a change log as ``events`` rows (``changelog_from_events``
    routes ``user_id % 4`` to tables t0..t3)."""
    rng = random.Random(17 + part)
    kinds = {"I": "signup", "U": "click", "D": "error"}
    rows = [
        (seq, datetime(2024, 1, 1), kinds[rng.choice("IIUUUD")], rng.randrange(12),
         float(seq), "{}")
        for seq in range(part * 40, part * 40 + 40)
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, user_id long, "
        "value double, props string"
    )


def _stream_run(spark, root, buckets, monkeypatch=None, when=None):
    """``run_stream`` over an events dir that gains a second file after
    the first availableNow run; a run that fails restarts from its
    checkpoint, which replays the micro-batch whose offsets it logged
    but never committed."""
    opts = TableOptions(sink_buckets=buckets)
    tables = [f"t{i}" for i in range(4)]
    cfg = PipeConfig(tables=[SourceTable(t, table_options=opts) for t in tables])
    events, ckpt = os.path.join(root, "events"), os.path.join(root, "ckpt")
    commits = os.path.join(ckpt, "commits")
    job = SyncJob(spark, cfg, events, os.path.join(root, "target"))

    def committed() -> int:
        """Micro-batches whose offsets the checkpoint committed."""
        if not os.path.isdir(commits):
            return 0
        return sum(not n.startswith(".") for n in os.listdir(commits))

    fault = when and _OneFault(monkeypatch, when, committed)
    for part in range(2):
        _stream_events(spark, part).write.mode("append").parquet(events)
        try:
            job.run_stream(events, ckpt).awaitTermination()
        except StreamingQueryException:
            assert fault is not None and fault.fired
            job.run_stream(events, ckpt).awaitTermination()
    assert committed() == 2
    assert fault is None or fault.fired, "the injection point was never reached"
    return {t: sorted(tuple(r) for r in job.store_for(t).read(spark).collect()) for t in tables}


class _SlotDB(SeamDB):
    """The seam with a replication slot: each peek serves the first
    transaction whose commit lies past the slot's last advance, as a
    capped peek does, so an iteration that never advanced re-peeks it."""

    def __init__(self, spark, txns, tables):
        super().__init__(spark, [], tables)
        self.txns = txns
        self.at = 0

    def reader(self, options):
        if "peek_binary_changes" in options.get("query", ""):
            pending = [t for t in self.txns if lsn_from_text(t[-1][0]) > self.at]
            self.frame_batches = pending[:1]
        return super().reader(options)

    def sql_runner(self, sql):
        super().sql_runner(sql)
        if "pg_replication_slot_advance" in sql:
            self.at = lsn_from_text(sql.split("'")[3])


def _live_txns() -> list[list[tuple[str, str, str]]]:
    """Eight transactions of inserts, updates and deletes over tables
    t1 (oid 500) and t2 (oid 600), each touching both."""
    rng = random.Random(5)
    txns, lsn = [], 16
    for xid in range(8):
        frames = [encode_begin()]
        for relid in (500, 600, *rng.choices((500, 600), k=4)):
            cells = [("t", str(rng.randrange(6)), None), ("t", f"v{lsn}", None)]
            op = rng.choice("IUD")
            frames.append(
                encode_insert(relid, cells) if op == "I"
                else encode_update(relid, cells) if op == "U"
                else encode_delete(relid, cells[:1])
            )
        frames.append(encode_commit())
        txn = []
        for f in frames:
            txn.append((f"0/{lsn:x}", str(xid), f.hex()))
            lsn += 16
        txns.append(txn)
    return txns


def _live_run(spark, root, buckets, monkeypatch=None, when=None):
    db = _SlotDB(spark, _live_txns(), {"t1": (500, [(1, "a")]), "t2": (600, [(2, "b")])})
    src = JdbcPostgresSource(
        spark, "jdbc:postgresql://unused/db", reader=db.reader, sql_runner=db.sql_runner
    )
    pipe = LivePostgresRoutedPipe(spark, src, list(db.tables), root, "pub", "slot")
    for t, store in pipe.stores.items():
        if buckets:
            pipe.stores[t] = store = BucketedReplicaStore(store.root, n_buckets=buckets)
        store.compact_every = COMPACT_EVERY
    pipe.initialize()
    pipe.first_sync()
    fault = when and _OneFault(
        monkeypatch, when, lambda: db.at, JdbcPostgresSource, "advance_slot"
    )
    assert pipe.sync_loop() == 8
    assert fault is None or fault.fired, "the injection point was never reached"
    return {t: sorted(tuple(r) for r in pipe.replica(t).collect()) for t in pipe.tables}


def _merge_commit_in_iteration(caller, log, cursor):
    """A table's merge commit after another table's merge in the same
    iteration committed: the cursor has not moved past either."""
    return (
        caller == "append_delta"
        and cursor > 0
        and any(c == "append_delta" and at == cursor for c, at in log)
    )


POINTS = {
    "merge_changes": (_sync_run, lambda caller, log, _: (
        caller == "append_delta" and sum(c == "append_delta" for c, _ in log) >= 2
    )),
    "_compact": (_sync_run, lambda caller, log, _: caller == "_compact"),
    "write_snapshot": (_rollup_run, lambda caller, log, _: (
        caller == "write_snapshot" and len(log) >= 1
    )),
    "sync_iteration": (_sync_run, _merge_commit_in_iteration),
    # the micro-batch's commits after another table's, before Spark
    # commits its offsets (the cursor is the committed-batch count)
    "run_stream": (_stream_run, _merge_commit_in_iteration),
    # after _merge_routed committed every table, before advance_slot
    "live_advance_slot": (_live_run, lambda caller, log, _: (
        caller == "sync_iteration" and len(log) >= 2
    )),
}

@pytest.fixture(scope="module")
def clean_runs() -> dict:
    """Clean-run FINAL views, filled once per (run, bucket count)."""
    return {}


@pytest.mark.parametrize("buckets", [0, 4], ids=["one_bucket", "four_buckets"])
@pytest.mark.parametrize("point", list(POINTS))
def test_commit_fault_resumes_to_clean_state(
    spark, tmp_path, monkeypatch, clean_runs, point, buckets
):
    run, when = POINTS[point]
    key = (run.__name__, buckets)
    if key not in clean_runs:
        clean_runs[key] = run(spark, str(tmp_path / "clean"), buckets)
    got = run(spark, str(tmp_path / "faulty"), buckets, monkeypatch, when)
    assert got == clean_runs[key]


# -- corpus ingest ---------------------------------------------------------------
class _InjectedFault(OSError):
    pass


def _long_doc(rng: random.Random) -> str:
    """60 lowercase alphabetic words: passes every C4 gate check."""
    return " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(4, 8)))
        for _ in range(60)
    )


def _near(text: str) -> str:
    """One word swapped: a near-duplicate at threshold 0.5."""
    words = text.split()
    words[30] = "zzzzzz"
    return " ".join(words)


def _ingest_batches() -> list[list[tuple[int, str]]]:
    """Long docs with planted exact, near and intra-batch copies, plus a
    short doc per batch that the quality gate drops."""
    rng = random.Random(11)
    d = [_long_doc(rng) for _ in range(10)]
    return [
        [(0, d[0]), (1, d[1]), (2, d[2]), (3, d[3]), (4, "too short")],
        [(10, _near(d[1])), (11, d[2]), (12, d[4]), (13, d[5]), (14, "too short")],
        [(20, _near(d[4])), (21, d[6]), (22, d[7]), (23, _near(d[7])), (24, "hi")],
        [(30, d[8]), (31, d[6]), (32, d[9])],
    ]


def _state_batches() -> list[list[tuple[int, str]]]:
    """Dedup-layer batches mixing long docs and docs too short to
    shingle (< 3 tokens), whose exact text hash is their one band key."""
    rng = random.Random(13)
    d = [_long_doc(rng) for _ in range(4)]
    return [
        [(1, d[0]), (2, d[1]), (3, "hi"), (4, "ok then")],
        [(5, _near(d[0])), (6, d[2]), (7, "hi"), (8, "yo")],
        [(9, " HI "), (10, d[3]), (11, "yo"), (12, "new one")],
    ]


class _OneWriteFault:
    """Makes one state-log or corpus write raise once, after one write
    at that point has landed. ``kind == "write"`` raises in place of the
    second ``DataFrameWriter.parquet`` call that ``match(path,
    compacting)`` selects; ``kind == "remove"`` lets that second write
    (a compaction's bucketed write) land and raises at the first
    ``os.remove`` under ``remove_under`` after it — the window between
    a compaction's write and its deletes."""

    def __init__(self, monkeypatch, kind, match, remove_under=None):
        self.fired = False
        self.armed = False
        self.seen = 0
        lock = threading.Lock()  # the band append and pre_commit run on pool threads
        real_parquet = DataFrameWriter.parquet
        real_remove = os.remove

        def parquet(writer, path, *args, **kwargs):
            with lock:
                if not self.fired and match(path, _compacting()):
                    self.seen += 1
                    if self.seen == 2 and kind == "write":
                        self.fired = True
                        raise _InjectedFault(f"injected write failure at {path}")
                    self.armed = self.seen == 2
            return real_parquet(writer, path, *args, **kwargs)

        def remove(path, *args, **kwargs):
            if self.armed and not self.fired and path.startswith(remove_under + os.sep):
                self.fired = True
                raise _InjectedFault(f"injected failure before deleting {path}")
            return real_remove(path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        monkeypatch.setattr(os, "remove", remove)


def _compacting() -> bool:
    """Whether the current write runs inside a log compaction."""
    f = sys._getframe(2)
    while f is not None:
        if f.f_code.co_name.startswith("compact"):
            return True
        f = f.f_back
    return False


def _replaying(step):
    """Run ``step()``; after an injected fault, run it once more — the
    at-least-once redelivery of the same batch."""
    try:
        return step()
    except _InjectedFault:
        return step()


def _ingest_run(spark, root, fault=None, monkeypatch=None):
    pipe = CorpusIngestPipeline(spark, root, threshold=0.5, compact_after_files=1)
    nd = pipe.neardup
    injector = fault and fault(monkeypatch, pipe, nd)
    for batch_id, rows in enumerate(_ingest_batches()):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        _replaying(lambda: pipe.process_batch(docs, batch_id=batch_id))
    assert injector is None or injector.fired, "the injection point was never reached"
    return {
        "corpus": sorted(r["doc_id"] for r in pipe.corpus("doc_id long, text string").collect()),
        "admitted": sorted(r["id"] for r in nd.admitted_ids().collect()),
        "n_admitted": sorted(
            (r["batch_id"], r["n_admitted"]) for r in pipe.metrics().collect()
        ),
    }


def _state_run(spark, root, fault=None, monkeypatch=None):
    nd = StreamingNearDup(spark, root, threshold=0.5, compact_after_files=1)
    injector = fault and fault(monkeypatch, None, nd)
    per_batch = []
    for rows in _state_batches():
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = _replaying(lambda: nd.process_batch(docs))
        per_batch.append(sorted(r["doc_id"] for r in out.collect()))
    assert injector is None or injector.fired, "the injection point was never reached"
    return {
        "admitted": sorted(r["id"] for r in nd.admitted_ids().collect()),
        "per_batch": per_batch,
    }


def _append_to(log):
    """The per-batch append to one state log (not its compaction)."""
    return lambda mp, pipe, nd: _OneWriteFault(
        mp, "write", lambda path, compacting: path == getattr(nd, log) and not compacting
    )


def _compaction_of(log):
    """A compaction of one state log, between its write and its deletes."""
    return lambda mp, pipe, nd: _OneWriteFault(
        mp,
        "remove",
        lambda path, compacting: path == getattr(nd, log) and compacting,
        remove_under=getattr(nd, log),
    )


def _corpus_write(mp, pipe, nd):
    """The pre_commit ``batch=<id>`` corpus write."""
    prefix = os.path.join(pipe.corpus_dir, "batch=")
    return _OneWriteFault(mp, "write", lambda path, _: path.startswith(prefix))


INGEST_POINTS = {
    "band_append": (_ingest_run, _append_to("bands_dir")),
    "corpus_write": (_ingest_run, _corpus_write),
    "state_band_append": (_state_run, _append_to("bands_dir")),
    "state_sigs_append": (_state_run, _append_to("sigs_dir")),
    "sigs_append": (_ingest_run, _append_to("sigs_dir")),
    "band_compaction": (_ingest_run, _compaction_of("bands_dir")),
    "sig_compaction": (_ingest_run, _compaction_of("sigs_dir")),
}


@pytest.mark.parametrize("point", list(INGEST_POINTS))
def test_ingest_fault_replays_to_clean_state(spark, tmp_path, monkeypatch, clean_runs, point):
    run, fault = INGEST_POINTS[point]
    if run.__name__ not in clean_runs:
        clean_runs[run.__name__] = run(spark, str(tmp_path / "clean"))
    got = run(spark, str(tmp_path / "faulty"), fault, monkeypatch)
    assert got == clean_runs[run.__name__]
