"""Live-PostgreSQL pipes — the IPipe lifecycle (initialize →
first_sync → sync_loop, pipes/mod.rs:11-16) against a REAL server:
partitioned snapshot through ``JdbcPostgresSource``, changes through
the capped materialized ``peek_changes`` → ``decode_pgoutput`` → typed
projection → keep-last → ``ReplicaStore.merge_changes`` chain, cursor =
the replication slot itself, advanced only AFTER every merge commits
(T2's peek-then-advance at-least-once protocol, pipes/postgres.rs:
487-499).  A crash between merge and advance replays the batch; the
versioned keyed merge absorbs the duplicates, exactly like the
parquet-changelog twin (``SyncJob``).

``LivePostgresRoutedPipe`` is the one unit — N tables through ONE
publication and ONE slot, frames decoded once and routed by relation
OID (the reference's deployment shape, pipes/postgres.rs:355-426 +
sync routing A2).  The reference's single-table pipe is the routed
pipe with ``tables=[table]``.

Snapshot/replay idempotence anchor: snapshot rows are stamped with
version 0, BELOW every replayable record LSN, so every replayed
change wins the keep-last merge against the snapshot.  This is safe
because pgoutput write frames carry FULL row images (or key images
for deletes): replaying a change the snapshot already reflects just
rewrites the same final state, and per-key record-LSN order matches
commit order (row locks serialize writers of the same row — a second
writer's WAL record is only emitted after the first writer's commit),
so keep-last picks the true newest version per key.  Any WAL-derived
stamp is unsound here: ``pg_logical_slot_peek_binary_changes``
reports each change's record LSN, not its commit LSN — a transaction
that wrote a row (record LSN < stamp) but commits after the snapshot
read's MVCC snapshot is invisible to the read yet would replay below
the stamp and lose the merge forever.  The reference avoids the same
race by sinking into a versionless ReplacingMergeTree() where
replayed rows always supersede snapshot rows (adapter/mod.rs);
version-0 snapshot stamping is this engine's equivalent.

Documented DIVERGENCES from the reference (both strictly more correct):
- a PRIMARY-KEY-changing UPDATE applies as a DELETE of the OLD key
  plus an upsert of the NEW key (split-tombstone, from the wire's
  old-key 'K'/'O' tuple) — the reference's ReplacingMergeTree sink
  upserts the new key only and leaves the stale old-key row behind
  forever;
- a multi-table ``TRUNCATE a, b`` truncates EVERY routed relation —
  the reference decodes only the FIRST relation id and silently
  diverges the rest (pgoutput.rs:427-448).

Documented parity limitation:
- narrowing DDL (DROP/reorder columns) shifts positional cells and
  requires a pipe restart — the introspect-once contract the
  reference's client has; widening (ADD COLUMN) is handled live (K5).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clockpipe_spark.cdc.pgoutput import decode_pgoutput
from clockpipe_spark.config import PipeConfig
from clockpipe_spark.sources.jdbc_adapter import JdbcPostgresSource, PgColumn
from clockpipe_spark.streaming.replica import ReplicaStore
from clockpipe_spark.sync_job import WriteFailedError, run_sync_loop

# pseudo-route key for a peeked batch that decodes to zero writes
# (B/C/O/R/Y only — e.g. empty transactions from other tables' churn on
# PostgreSQL < 16); the slot still advances past it
SKIP_ONLY = "_skip_only"


def _typed_cell(idx: int, col: PgColumn, source: str = "cell_texts") -> Column:
    """Positional text cell -> the column's Spark type.  pgoutput text
    renderings cast cleanly for the scalar tail ('t'/'f' bools included
    — Spark's boolean cast accepts them); bytea's '\\x…' hex rendering
    folds through unhex.  NULL cells stay NULL through every branch.

    ``F.get`` (NULL on out-of-range, even under ANSI) instead of the
    ``[]`` accessor: after an ADD COLUMN, the same batch can carry
    pre-ALTER frames with FEWER cells than the refreshed column list —
    those rows never had the new column, so NULL is the correct value
    (a no-default ADD COLUMN leaves them NULL server-side too).

    ``source`` selects the new-image array (default) or ``old_texts``
    for the split-tombstone projection of a PK-changing UPDATE."""
    c = F.get(F.col(source), F.lit(idx))
    if col.data_type == "bytea":
        return F.unhex(F.substring(c, 3, 1 << 30)).alias(col.column_name)
    return c.cast(col.spark_type).alias(col.column_name)


class LivePostgresRoutedPipe:
    """N tables through ONE publication and ONE slot.  Frames decode
    ONCE per iteration; each table filters its OID, applies its own
    truncate ordering and typed projection, and merges into its own
    ``ReplicaStore``.  The slot advances ONCE, after EVERY table's
    merge committed — a crash mid-routing replays the whole batch into
    all tables, and each versioned keyed merge absorbs its duplicates.

    Write frames for a relation OID outside the configured tables
    RAISE instead of advancing past them: a publication that covers
    more tables than the pipe would otherwise lose those tables'
    changes unrecoverably (the slot cannot rewind)."""

    def __init__(
        self,
        spark: SparkSession,
        source: JdbcPostgresSource,
        tables: Sequence[str],
        target_root: str,
        publication: str,
        slot: str,
        config: PipeConfig | None = None,
        key_overrides: dict[str, Sequence[str]] | None = None,
    ):
        if not tables:
            raise ValueError("at least one table required")
        self.spark = spark
        self.source = source
        self.tables = list(tables)
        self.publication = publication
        self.slot = slot
        self.config = config or PipeConfig()
        self.columns = {t: source.list_columns(t) for t in self.tables}
        for t, cols in self.columns.items():
            if not cols:
                raise ValueError(f"table {t!r} has no columns (missing?)")
        overrides = key_overrides or {}
        self.keys = {
            t: list(overrides[t]) if t in overrides else [
                c.column_name for c in cols if c.is_primary_key
            ]
            for t, cols in self.columns.items()
        }
        for t, k in self.keys.items():
            if not k:
                raise ValueError(
                    f"table {t!r} has no primary key and no explicit keys"
                )
        self.stores = {
            t: ReplicaStore(os.path.join(target_root, "replica", t))
            for t in self.tables
        }
        self.oids: dict[str, int] = {}

    # -- lifecycle (pipes/mod.rs:11-16) -----------------------------------
    def initialize(self) -> list[str]:
        """Find-or-create the publication + slot (idempotent); the slot
        MUST exist before the snapshot so during/after-snapshot changes
        are retained for replay."""
        issued = self.source.setup_publication(
            self.publication, self.slot, self.tables
        )
        self.oids = self.source.table_oids(self.tables)
        return issued

    def first_sync(self) -> dict[str, int]:
        """Per-table snapshot, each idempotent-guarded (K6,
        pipes/postgres.rs:136-160).  Snapshot rows carry version 0 so
        EVERY replayed change (record LSN > 0) wins the keep-last
        merge — see the module docstring for why a WAL-derived stamp
        is unsound (record LSN vs commit LSN race under concurrent
        writers).  The row count comes from the WRITTEN store so a
        lazy JDBC relation is scanned exactly once (by the write)."""
        copied: dict[str, int] = {}
        for t in self.tables:
            store = self.stores[t]
            if store.current_version() >= 0:
                continue
            # cast to the introspected Spark types so snapshot state
            # and decoded changes merge under ONE schema (a JDBC
            # relation already delivers these types; no-op there).
            # bytea through a text transport (the psql seam) arrives
            # as its '\x…' hex rendering — string->binary cast would
            # keep the hex TEXT's bytes, so mirror _typed_cell's
            # unhex branch instead; a real JDBC relation delivers
            # BinaryType already and takes the plain-cast branch.
            snap = self.source.snapshot(t)
            in_types = dict(snap.dtypes)
            cols = []
            for c in self.columns[t]:
                if (
                    c.data_type == "bytea"
                    and in_types.get(c.column_name) == "string"
                ):
                    cols.append(
                        F.unhex(
                            F.substring(F.col(c.column_name), 3, 1 << 30)
                        ).alias(c.column_name)
                    )
                else:
                    cols.append(
                        F.col(c.column_name)
                        .cast(c.spark_type)
                        .alias(c.column_name)
                    )
            store.write_snapshot(
                snap.select(*cols)
                .withColumn("last_seq", F.lit(0).cast("long"))
                .withColumn("__deleted", F.lit(False)),
                self.keys[t],
            )
            copied[t] = store.read_raw(self.spark).count()
        return copied

    def sync_iteration(self) -> dict[str, dict[str, int]]:
        """One peek → decode-once → route → merge-per-table →
        advance-once turn (T1, pipes/postgres.rs:260-517).  Returns
        {table: {op: count}} (plus a ``_skip_only`` pseudo-route when a
        batch held only skipped frame types — the slot still advances);
        empty dict = truly drained (zero frames)."""
        if not self.oids:
            raise RuntimeError("initialize() must run before sync")
        frames = self.source.peek_changes(
            self.slot, self.publication, self.config.peek_changes_limit
        )
        head = frames.agg(
            F.count("*").alias("n"), F.max("lsn").alias("m")
        ).first()
        if not head["n"]:
            return {}
        advance_to = head["m"]
        decoded = decode_pgoutput(frames).persist()
        try:
            # one aggregation carries route stats AND the K5 widest
            # probe — no separate per-iteration job for evolution
            stats = decoded.groupBy("relation_id", "msg_type").agg(
                F.count("*").alias("n"),
                F.max("lsn").alias("mx"),
                F.max(F.size("cell_texts")).alias("w"),
                # old-tuple presence: postgres sends one only under
                # REPLICA IDENTITY FULL or when the identity key
                # changed, so most batches carry none — the split-
                # tombstone projection below is gated on this to keep
                # the common path at one projection per table
                F.max(F.size("old_kinds")).alias("ow"),
            ).collect()
            if not stats:
                # skip-only batch (e.g. empty txns from other tables'
                # churn): advancing is mandatory or the pipe stalls
                # behind it forever and falsely reports drained
                self.source.advance_slot(self.slot, advance_to)
                return {SKIP_ONLY: {"frames": head["n"]}}

            known = set(self.oids.values())
            strays = sorted(
                {r["relation_id"] for r in stats} - known
            )
            if strays:
                raise RuntimeError(
                    f"write frames for unconfigured relation oids {strays} "
                    f"(publication {self.publication!r} covers more tables "
                    "than this pipe) — refusing to advance past them"
                )

            routed = {
                t: [r for r in stats if r["relation_id"] == self.oids[t]]
                for t in self.tables
            }
            routed = {t: rs for t, rs in routed.items() if rs}
            for t, t_stats in routed.items():
                # K5 live: wider frames => the table grew a column
                widest = max(r["w"] for r in t_stats)
                if widest and widest > len(self.columns[t]):
                    self.columns[t] = self.source.list_columns(t)
                # resolved before the write wrap: a missing key column
                # is a config fault a retry cannot mend
                names = {c.column_name for c in self.columns[t]}
                missing = [k for k in self.keys[t] if k not in names]
                if missing:
                    raise ValueError(f"table {t!r} lacks merge-key columns {missing}")
            try:
                for t, t_stats in routed.items():
                    self._merge_routed(t, t_stats, decoded)
            except Exception as ex:
                raise WriteFailedError(str(ex)) from ex
            # one advance, after every route committed (T2); the target
            # is the max LSN over ALL frames — the batch's trailing
            # COMMIT — because advancing to any LSN before a commit
            # record replays that whole transaction
            self.source.advance_slot(self.slot, advance_to)
            return {
                t: {r["msg_type"]: r["n"] for r in rs}
                for t, rs in routed.items()
            }
        finally:
            decoded.unpersist()

    def _merge_routed(self, t: str, t_stats: list, decoded: DataFrame) -> None:
        """Apply one table's share of a decoded batch: truncate, then the
        typed keep-last merge (the write phase of ``sync_iteration``).
        ``self.columns[t]`` holds every key column of ``self.keys[t]``."""
        mine = decoded.filter(F.col("relation_id") == self.oids[t])
        w_maxes = [r["mx"] for r in t_stats if r["msg_type"] in "IUD"]
        t_max = max((r["mx"] for r in t_stats if r["msg_type"] == "T"), default=None)
        if t_max is not None:  # K3: truncate wipes state inline
            self.stores[t].truncate(self.spark)
            mine = mine.filter((F.col("lsn") > t_max) & (F.col("msg_type") != "T"))
        # merge only when a write frame SURVIVES the truncate cut — an
        # all-pre-truncate batch would otherwise run a delta write job
        # for zero changes
        if not w_maxes or (t_max is not None and max(w_maxes) <= t_max):
            return
        writes = mine.filter(F.col("msg_type").isin("I", "U", "D"))
        typed = writes.select(
            F.col("lsn").alias("seq"),
            F.col("msg_type").alias("op"),
            *[_typed_cell(i, c) for i, c in enumerate(self.columns[t])],
        )
        # split-tombstone for PK-changing UPDATEs (see the module
        # docstring's divergence note): the wire's old tuple ('K' under
        # REPLICA IDENTITY DEFAULT — sent exactly when the identity key
        # changed — or 'O' under FULL, where the key must be compared)
        # becomes a DELETE of the OLD key at the same LSN.  Same-batch
        # churn stays correct under keep-last: the tombstone's key
        # differs from its upsert's, and any later re-insert of the old
        # key carries a higher LSN and wins.  Gated on the stats agg's
        # old-tuple width so batches without old tuples (the common
        # case) keep the single-projection plan.
        if any(r["msg_type"] == "U" and r["ow"] for r in t_stats):
            idx = {c.column_name: i for i, c in enumerate(self.columns[t])}
            key_moved = None
            for k in self.keys[t]:
                ne = ~F.get("old_texts", F.lit(idx[k])).eqNullSafe(
                    F.get("cell_texts", F.lit(idx[k]))
                )
                key_moved = ne if key_moved is None else key_moved | ne
            tombstones = writes.filter(
                (F.col("msg_type") == "U") & (F.size("old_kinds") > 0) & key_moved
            ).select(
                F.col("lsn").alias("seq"),
                F.lit("D").alias("op"),
                *[
                    _typed_cell(i, c, source="old_texts")
                    for i, c in enumerate(self.columns[t])
                ],
            )
            typed = typed.unionByName(tombstones)
        self.stores[t].merge_changes(self.spark, typed, self.keys[t])

    def sync_loop(
        self,
        max_iterations: int | None = None,
        sleep: bool = False,
        daemon: bool = False,
    ) -> int:
        """Drain (default) or poll forever (``daemon=True``) through
        ``run_sync_loop``: a failed iteration is retried without
        advancing the slot, with the reference's backoff classes."""
        return run_sync_loop(
            self.sync_iteration, self.config, max_iterations, sleep, daemon=daemon
        )

    def replica(self, table: str) -> DataFrame | None:
        return self.stores[table].read(self.spark)

