"""Replay contract at the replica store's commit boundaries: a manifest
commit that raises once — after its data files were written — is
retried by the run loop without advancing the cursor, and every
table's FINAL view ends equal to a clean run's, on a one-bucket and a
4-bucket store."""

from __future__ import annotations

import random
import sys
import threading
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from clockpipe_spark.config import PipeConfig, SourceTable, TableOptions
from clockpipe_spark.streaming.bucketed_replica import BucketedReplicaStore
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
    """Makes ``BucketedReplicaStore._commit`` raise once, on the first
    commit ``when(caller, log)`` selects. ``log`` lists the successful
    commits so far as (calling method, cursor at commit)."""

    def __init__(self, monkeypatch, when, cursor):
        self.when = when
        self.cursor = cursor
        self.log: list[tuple[str, object]] = []
        self.fired = False
        self._lock = threading.Lock()  # merges commit from pool threads
        real = BucketedReplicaStore._commit

        def commit(store, *args):
            caller = sys._getframe(1).f_code.co_name
            with self._lock:
                if not self.fired and self.when(caller, self.log, self.cursor()):
                    self.fired = True
                    raise OSError(f"injected commit failure in {caller}")
                out = real(store, *args)
                self.log.append((caller, self.cursor()))
                return out

        monkeypatch.setattr(BucketedReplicaStore, "_commit", commit)


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


def _merge_commit_in_iteration(caller, log, cursor):
    """A table's merge commit after another table's merge in the same
    iteration committed: the cursor has not moved past either."""
    return (
        caller == "merge_changes"
        and cursor > 0
        and any(c == "merge_changes" and at == cursor for c, at in log)
    )


POINTS = {
    "merge_changes": (_sync_run, lambda caller, log, _: (
        caller == "merge_changes" and sum(c == "merge_changes" for c, _ in log) >= 2
    )),
    "_compact": (_sync_run, lambda caller, log, _: caller == "_compact"),
    "write_snapshot": (_rollup_run, lambda caller, log, _: (
        caller == "write_snapshot" and len(log) >= 1
    )),
    "sync_iteration": (_sync_run, _merge_commit_in_iteration),
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
