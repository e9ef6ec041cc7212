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

A batch is one stats pass and then one keep-last write partitioned by
``tbl`` for all its tables (one per distinct merge-key tuple), whose
per-table output dirs each store commits as its next delta — the Spark
jobs of an iteration do not grow with the table count.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clockpipe_spark.cdc.changelog import changelog_from_events
# keep_last_by_key stays a module attribute: perfbench's tracer wraps it
from clockpipe_spark.cdc.ops import apply_masks, keep_last_by_key  # noqa: F401
from clockpipe_spark.config import PipeConfig
from clockpipe_spark.streaming.bucketed_replica import (
    BucketedReplicaStore,
    keep_last_delta,
    write_delta,
)
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
    Every retried iteration logs one WARNING naming its failure class
    and attempt number. A ``ValueError`` or ``TypeError`` (a merge key
    the changelog lacks, a malformed frame) is not retried: it
    propagates on the first attempt, cursor untouched. Each productive
    iteration paces by ``sleep_millis_after_sync_iteration`` (:513).

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
        except (ValueError, TypeError):
            raise  # a config or schema fault: a replay fails the same way
        except Exception as ex:
            failures += 1
            if failures > max_retries:
                raise
            write_failed = isinstance(ex, WriteFailedError)
            logging.getLogger(__name__).warning(
                "sync iteration failed (%s), retry attempt %d of %d: %s",
                WriteFailedError.__name__ if write_failed else "peek",
                failures, max_retries, ex,
            )
            if sleep:
                time.sleep(
                    (config.sleep_millis_when_write_failed if write_failed
                     else config.sleep_millis_when_peek_failed) / 1000
                )
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


STAGING_DIR = "_routed"


def _check_table_name(table: str) -> None:
    """Refuse a table whose store root would be the job's own staging
    dir or cursor file under the target root."""
    if table in (STAGING_DIR, "cursor.json", "cursor.json.tmp"):
        raise ValueError(f"table name {table!r} is reserved under the target root")


def _sql_str(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


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
        self._events_schema: T.StructType | None = None
        self.cursor_file = os.path.join(target_root, "cursor.json")
        # the routed write's staging dir, beside the per-table stores
        self.staging_dir = os.path.join(target_root, STAGING_DIR)
        os.makedirs(target_root, exist_ok=True)
        self.stores: dict[str, BucketedReplicaStore] = {}

    def store_for(self, table: str) -> BucketedReplicaStore:
        _check_table_name(table)
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
            # the merges' key resolution, so the snapshot and later
            # changelog merges hash by the SAME key columns
            # (snapshot-then-CDC on one table is the reference's core
            # shape, pipes/postgres.rs first_sync -> sync_loop)
            store.write_snapshot(state, self.merge_keys_for(t.table_name, df.columns))
            copied[t.table_name] = store.read(self.spark).count()
        return copied

    # -- change loop --------------------------------------------------------
    def changelog(self) -> DataFrame:
        if self._changelog_fn is not None:
            return self._changelog_fn(self.spark)
        path = os.path.join(self.source_dir, "events.parquet")
        # infer once (a footer-scan job); later builds pass the schema,
        # which keeps the file listing fresh but launches no job
        if self._events_schema is None:
            self._events_schema = self.spark.read.parquet(path).schema
        return _changelog(self.spark.read.schema(self._events_schema).parquet(path))

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
        for an empty batch. ``batch`` should be cached: it is read twice.

        ONE stats pass yields emptiness, the counters, the last seq and
        each table's last TRUNCATE — per-iteration fixed cost is what
        bounds small-batch throughput. A TRUNCATE wipes its table's
        state first, and only the table's changes AFTER the batch's last
        TRUNCATE merge (K3, pipes/postgres.rs:391-417). The rest is ONE
        routed write per merge-key tuple (``_write_routed``), not one
        pipeline per table: the reference routes by table because a
        ClickHouse INSERT targets one table, a Spark write partitioned by
        ``tbl`` is one job whatever the table count. Each table's delta
        then commits to its store, and due compactions run concurrently.

        Table names and merge keys are checked on the driver first, so a
        table named like the job's own files or a changelog without a
        table's key column raises ``ValueError`` before anything is
        written; any failure after that surfaces as WriteFailedError."""
        stats = (
            batch.groupBy("tbl", "op")
            .agg(F.expr("count(*) AS n"), F.expr("max(seq) AS mx"))
            .collect()
        )
        if not stats:
            return {}, None
        counters = {(r["tbl"], r["op"]): r["n"] for r in stats}
        last: dict[str, int] = {}
        for r in stats:
            last[r["tbl"]] = max(r["mx"], last.get(r["tbl"], r["mx"]))
        truncated = {r["tbl"]: r["mx"] for r in stats if r["op"] == "T"}
        # checked before the wrap: a reserved table name or a missing
        # key column is a fault no replay mends
        for tbl in last:
            _check_table_name(tbl)
        keys = {tbl: tuple(self.merge_keys_for(tbl, batch.columns)) for tbl in sorted(last)}
        # tables with changes after their last TRUNCATE, by merge keys
        routes: dict[tuple[str, ...], list[str]] = {}
        for tbl, k in keys.items():
            if tbl not in truncated or last[tbl] > truncated[tbl]:
                routes.setdefault(k, []).append(tbl)
        try:
            stores = {tbl: self.store_for(tbl) for tbl in keys}
            for tbl in sorted(truncated):
                stores[tbl].truncate(self.spark)
            for k, tables in routes.items():
                routed = [f"tbl IN ({', '.join(map(_sql_str, tables))})"]
                # rows up to a table's last TRUNCATE went with it
                routed += [
                    f"(tbl != {_sql_str(t)} OR seq > {truncated[t]})"
                    for t in tables
                    if t in truncated
                ]
                rows = batch.filter(" AND ".join(routed))
                self._write_routed(rows, {t: stores[t] for t in tables}, list(k))
            due = [t for ts in routes.values() for t in ts if stores[t].compact_due()]
            if due:
                with ThreadPoolExecutor(max_workers=min(8, len(due))) as pool:
                    list(pool.map(lambda t: stores[t].compact(self.spark, keys[t]), due))
        except Exception as ex:
            raise WriteFailedError(str(ex)) from ex
        return counters, max(last.values())

    def _write_routed(
        self, rows: DataFrame, stores: dict[str, BucketedReplicaStore], keys: list[str]
    ) -> None:
        """Write the keep-last deltas of the tables of ``stores`` (one
        merge-key tuple) as ONE ``partitionBy("tbl")`` write to the
        staging dir, then move each ``tbl=<t>`` dir to its store's next
        delta dir and commit it there. Each row's bucket is its own
        store's ``_bucket_sql``, chosen by a CASE on ``tbl``. The files
        hold the columns ``merge_changes`` writes, so the manifest
        entries are the same."""
        bucket = " ".join(f"WHEN {_sql_str(t)} THEN {s._bucket_sql(keys)}" for t, s in stores.items())
        delta = keep_last_delta(
            rows.select("tbl", "seq", "op", *keys, "value", "ts"),
            keys,
            f"CASE tbl {bucket} END",
            by=("tbl",),
        )
        touched: dict[str, list[int]] = {t: [] for t in stores}
        for tbl, b in write_delta(delta, self.staging_dir, by=("tbl",)):
            touched[tbl].append(b)
        # partition dir names escape special characters as %XX
        written = {
            unquote(d[4:]): d for d in os.listdir(self.staging_dir) if d.startswith("tbl=")
        }
        schema = T.StructType([f for f in delta.schema.fields if f.name != "tbl"]).jsonValue()
        for t, store in stores.items():
            # a delta dir left by an attempt that failed before its
            # commit is listed by no manifest
            dst = store.delta_dir()
            shutil.rmtree(dst, ignore_errors=True)
            os.replace(os.path.join(self.staging_dir, written[t]), dst)
            store.append_delta(dst, sorted(touched[t]), schema, keys)

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
            # ONE cached partition: a one-partition batch meets every
            # clustering requirement, so the stats aggregate and the
            # keep-last window need no shuffle, nor the job that runs
            # its map side, and the iteration runs one task at a time.
            # On 4 local cores that led the uncoalesced batch in median
            # throughput at caps 65,536 and 262,144 as well; whether a
            # cluster wants the peek split by the cap is unmeasured
            batch = clog.filter(f"seq > {start} AND seq <= {start + cap}").coalesce(1).cache()
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
