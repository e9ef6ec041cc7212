"""Config-driven multi-table sync job — the reference's end-to-end
product shape (main.rs:27-49 -> pipes/postgres.rs:748-769): read a JSON
config, snapshot each configured table (with masking and the idempotent
skip guard), then drain the change log with per-table routing into one
replica store per table.

Source endpoints are parquet directories in this harness; the operator
chain (align -> mask -> cast -> merge) is the deployment-real part. One
function applies a change batch (``SyncJob.apply_batch``), whether the
batch comes from the cursor-range peek of ``sync_iteration`` or from a
``readStream`` micro-batch of ``run_stream``; one run loop
(``run_sync_loop``) drives this job and the live Postgres pipes.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clockpipe_spark.cdc.changelog import changelog_from_events
# keep_last_by_key stays a module attribute: perfbench's tracer wraps it
from clockpipe_spark.cdc.ops import apply_masks, keep_last_by_key  # noqa: F401
from clockpipe_spark.config import PipeConfig
from clockpipe_spark.streaming.replica import ReplicaStore


class WriteFailedError(RuntimeError):
    """A sync iteration failed in its WRITE phase (after a successful
    peek).  The reference backs off with ``sleep_millis_when_write_failed``
    for this class and ``sleep_millis_when_peek_failed`` for peek
    failures (pipes/postgres.rs:277 vs :408-446); tagging the phase lets
    run_sync_loop pick the matching knob.  Either way the cursor is
    untouched, so the retry re-peeks the same batch."""


def run_sync_loop(
    iteration: Callable[[], dict],
    config: PipeConfig,
    max_iterations: int | None = None,
    sleep: bool = False,
    max_retries: int = 3,
    daemon: bool = False,
) -> int:
    """The run loop of every pipe; ``iteration`` is one peek -> merge ->
    advance turn that returns an empty dict when the peek was empty.
    Returns the number of productive iterations.

    A failed iteration is retried WITHOUT advancing the cursor (T3,
    pipes/postgres.rs:433-452): the next attempt re-peeks the same
    batch; the keyed merge makes the replay safe. The retry backoff
    matches the reference's failure classes:
    ``sleep_millis_when_write_failed`` when the iteration died in its
    write phase (WriteFailedError, pipes/postgres.rs:408-446),
    ``sleep_millis_when_peek_failed`` otherwise (config.rs:156-159).
    Each productive iteration paces by
    ``sleep_millis_after_sync_iteration`` (:513).

    ``daemon=True`` is the reference's long-running shape: an empty
    peek sleeps ``sleep_millis_when_peek_is_empty`` and keeps polling
    (pipes/postgres.rs:284-291) instead of returning; bound it with
    ``max_iterations`` (empty polls count) or run forever.
    """
    it = 0
    polls = 0
    failures = 0
    while max_iterations is None or (polls if daemon else it) < max_iterations:
        polls += 1
        try:
            counters = iteration()
        except WriteFailedError:
            failures += 1
            if failures > max_retries:
                raise
            if sleep:
                time.sleep(config.sleep_millis_when_write_failed / 1000)
            continue  # cursor untouched -> same batch re-peeked
        except Exception:
            failures += 1
            if failures > max_retries:
                raise
            if sleep:
                time.sleep(config.sleep_millis_when_peek_failed / 1000)
            continue  # cursor untouched -> same batch re-peeked
        failures = 0
        if not counters:
            if not daemon:
                break
            if sleep:
                time.sleep(config.sleep_millis_when_peek_is_empty / 1000)
            continue
        it += 1
        if sleep:
            time.sleep(config.sleep_millis_after_sync_iteration / 1000)
    return it


def _changelog(events: DataFrame) -> DataFrame:
    # normalize the nanos ts like catalog.load_table
    if isinstance(events.schema["ts"].dataType, T.LongType):
        events = events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return changelog_from_events(events)


class SyncJob:
    """initialize -> first_sync -> sync_loop over MULTIPLE tables
    (IPipe lifecycle, pipes/mod.rs:11-16) with group-by-table routing
    (A2, pipes/postgres.rs:295-420) and per-table/op write counters
    (A3, WriteCounter pipes/mod.rs:23-28)."""

    def __init__(
        self,
        spark: SparkSession,
        config: PipeConfig,
        source_dir: str,
        target_root: str,
        changelog_fn: Callable[[SparkSession], DataFrame] | None = None,
        keys: tuple[str, ...] = ("user_id",),
    ):
        self.spark = spark
        self.config = config
        self.source_dir = source_dir
        self.target_root = target_root
        self.keys = list(keys)
        self._changelog_fn = changelog_fn
        self.cursor_file = os.path.join(target_root, "cursor.json")
        os.makedirs(target_root, exist_ok=True)
        self.stores: dict[str, ReplicaStore] = {}

    def store_for(self, table: str):
        if table not in self.stores:
            path = os.path.join(self.target_root, table)
            # per-table options inherit from global (config.rs:259-268)
            src = next(
                (t for t in self.config.tables if t.table_name == table), None
            )
            buckets = self.config.sink_buckets
            if src is not None:
                buckets = self.config.options_for(src).sink_buckets
            if buckets and buckets > 0:
                from clockpipe_spark.streaming.bucketed_replica import (
                    BucketedReplicaStore,
                )

                self.stores[table] = BucketedReplicaStore(path, n_buckets=buckets)
            else:
                self.stores[table] = ReplicaStore(path)
        return self.stores[table]

    # -- lifecycle ---------------------------------------------------------
    def initialize(self) -> None:
        """Ping both ends (T7, pipes/postgres.rs:94-108): source paths
        must be readable, target root writable."""
        for t in self.config.tables:
            path = os.path.join(self.source_dir, f"{t.table_name}.parquet")
            if not t.skip_copy and not os.path.exists(path):
                raise FileNotFoundError(f"source table missing: {path}")
        os.makedirs(self.target_root, exist_ok=True)

    def first_sync(self) -> dict[str, int]:
        """Snapshot copy per configured table: skip_copy / non-empty
        target guards (K6, pipes/postgres.rs:136-160), masking applied
        before write (P2). Returns rows copied per table."""
        copied: dict[str, int] = {}
        for t in self.config.tables:
            store = self.store_for(t.table_name)
            if t.skip_copy or store.current_version() >= 0:
                copied[t.table_name] = 0
                continue
            df = self.spark.read.parquet(
                os.path.join(self.source_dir, f"{t.table_name}.parquet")
            )
            df = apply_masks(df, t.mask_columns)
            # NOTE deliberately NOT fanout_repartition-ed: snapshot copy
            # is a 1:1 map whose parallelism at scale comes from parquet
            # input splitting (maxPartitionBytes); an unconditional
            # shuffle here only adds cost. The fan-out guard is for
            # stages whose OUTPUT volume explodes relative to input.
            state = df.withColumn("last_seq", F.lit(-1).cast("bigint")).withColumn(
                "__deleted", F.lit(False)
            )
            if hasattr(store, "write_snapshot"):
                # the merges' key resolution, so a bucketed snapshot and
                # later changelog merges hash by the SAME key columns
                # (snapshot-then-CDC on one table is the reference's
                # core shape, pipes/postgres.rs first_sync -> sync_loop)
                store.write_snapshot(state, self.merge_keys_for(t.table_name, df.columns))
            else:
                store.write(state)
            copied[t.table_name] = store.read(self.spark).count()
        return copied

    # -- change loop --------------------------------------------------------
    def changelog(self) -> DataFrame:
        if self._changelog_fn is not None:
            return self._changelog_fn(self.spark)
        return _changelog(
            self.spark.read.parquet(os.path.join(self.source_dir, "events.parquet"))
        )

    def read_cursor(self) -> int:
        try:
            with open(self.cursor_file) as f:
                return json.load(f)["last_seq"]
        except FileNotFoundError:
            return -1

    def advance_cursor(self, last_seq: int) -> None:
        tmp = self.cursor_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_seq": last_seq}, f)
        os.replace(tmp, self.cursor_file)

    def merge_keys_for(self, tbl: str, available: list[str]) -> list[str]:
        """Per-table merge keys: a table's registered PRIMARY KEY wins over
        the job-level key tuple, so snapshot-then-CDC on the same table
        hashes state and changes identically (the reference resolves PKs
        per table, adapter/postgres.rs:741-758). The snapshot or
        changelog MUST carry the key columns — a silent fallback would
        merge by the wrong key and leave stale rows per PK."""
        from clockpipe_spark.catalog import PRIMARY_KEYS

        keys = list(PRIMARY_KEYS.get(tbl, self.keys))
        missing = [k for k in keys if k not in available]
        if missing:
            raise ValueError(f"table {tbl!r} lacks merge-key columns {missing}")
        return keys

    def apply_batch(
        self, batch: DataFrame
    ) -> tuple[dict[tuple[str, str], int], int | None]:
        """Route one change batch into the per-table stores: the body of
        both ``sync_iteration`` and ``run_stream``'s foreachBatch.
        Returns the (table, op) -> n counters, the reference's
        per-iteration log line, and the batch's last seq; ``({}, None)``
        for an empty batch.

        ONE stats job yields emptiness, the counters, the last seq and
        each table's last TRUNCATE — per-iteration fixed cost is what
        bounds small-batch throughput. A TRUNCATE wipes its table's
        state inline and only the table's changes AFTER the batch's last
        TRUNCATE merge (K3, pipes/postgres.rs:391-417). Any failure after
        the stats job surfaces as WriteFailedError."""
        stats = (
            batch.groupBy("tbl", "op")
            .agg(F.count("*").alias("n"), F.max("seq").alias("mx"))
            .collect()
        )
        if not stats:
            return {}, None
        counters = {(r["tbl"], r["op"]): r["n"] for r in stats}
        last: dict[str, int] = {}
        for r in stats:
            last[r["tbl"]] = max(r["mx"], last.get(r["tbl"], r["mx"]))
        truncated = {r["tbl"]: r["mx"] for r in stats if r["op"] == "T"}

        def merge_one(tbl: str) -> None:
            part = batch.filter(F.col("tbl") == tbl)
            if tbl in truncated:
                self.store_for(tbl).truncate(self.spark)
                if last[tbl] <= truncated[tbl]:
                    return
                # rows after the last truncate cannot themselves be truncates
                part = part.filter(F.col("seq") > truncated[tbl])
            keys = self.merge_keys_for(tbl, part.columns)
            # no keep-last here: both stores keep the max seq per key
            # (the flat one over changes ∪ state, the bucketed one over
            # the changes), so a second dedup would only add a shuffle
            self.store_for(tbl).merge_changes(
                self.spark, part.select("seq", "op", *keys, "value", "ts"), keys
            )

        # per-table merges are independent Spark jobs on disjoint target
        # dirs -> submit concurrently (cluster slots stay busy instead of
        # serializing 4 small jobs)
        tables = sorted(last)
        try:
            with ThreadPoolExecutor(max_workers=min(8, len(tables))) as pool:
                list(pool.map(merge_one, tables))
        except Exception as ex:
            raise WriteFailedError(str(ex)) from ex
        return counters, max(last.values())

    def sync_iteration(self) -> dict[tuple[str, str], int]:
        """peek -> apply_batch -> advance (after ALL tables committed).
        Returns (table, op) -> n counters; empty = drained.

        Peek is a cursor-range predicate ``seq in (cursor, cursor+cap]``
        pushed to the parquet scan — NOT a global orderBy(seq).limit(cap),
        which re-sorts the entire pending tail every iteration; sparse
        seq gaps wider than the cap are bridged by one min-seq probe."""
        cursor = self.read_cursor()
        cap = self.config.peek_changes_limit
        clog = self.changelog()

        def peek_and_apply(start: int):
            batch = clog.filter(
                (F.col("seq") > start) & (F.col("seq") <= start + cap)
            ).cache()
            try:
                return self.apply_batch(batch)
            finally:
                batch.unpersist()

        counters, last_seq = peek_and_apply(cursor)
        if not counters:
            nxt = clog.filter(F.col("seq") > cursor).agg(F.min("seq")).first()[0]
            if nxt is None:
                return {}
            # the window starting below the first pending seq is non-empty
            counters, last_seq = peek_and_apply(nxt - 1)
        if counters:
            self.advance_cursor(last_seq)
        return counters

    def sync_loop(
        self,
        max_iterations: int | None = None,
        sleep: bool = False,
        max_retries: int = 3,
        daemon: bool = False,
    ) -> int:
        """Drain the log (or poll it, ``daemon=True``) with
        ``run_sync_loop``'s retry-without-advance and backoff classes."""
        return run_sync_loop(
            self.sync_iteration, self.config, max_iterations, sleep, max_retries, daemon
        )

    def run_stream(self, events_dir: str, checkpoint_dir: str):
        """Structured Streaming form of the change loop: readStream over
        an events directory, ``apply_batch`` as the foreachBatch body,
        and the checkpoint in the cursor's role — Spark commits a
        micro-batch's offsets only after its body returned, so a crash
        replays the batch into the keyed merges. Returns the started
        StreamingQuery; availableNow drains the directory and stops.
        A deployment would trigger every 100 ms instead (T1)."""
        schema = self.spark.read.parquet(events_dir).schema
        clog = _changelog(self.spark.readStream.schema(schema).parquet(events_dir))

        def apply(batch: DataFrame, _batch_id: int) -> None:
            batch = batch.cache()
            try:
                self.apply_batch(batch)
            finally:
                batch.unpersist()

        return (
            clog.writeStream.foreachBatch(apply)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def run(self, max_iterations: int | None = None) -> dict:
        self.initialize()
        copied = self.first_sync()
        iterations = self.sync_loop(max_iterations)
        return {"copied": copied, "iterations": iterations}
