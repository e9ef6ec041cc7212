"""Bucketed replica store: hash-partitioned upsert state with
merge-on-read deltas + periodic bucket-scoped compaction.

This is the one replica store (``ReplicaStore`` is its one-bucket
case): a version column that competes in the merge plus tombstones,
emulating the ReplacingMergeTree merge-on-read economics the
reference's sink relies on (adapter/mod.rs:90-105): ClickHouse
*inserts* are cheap appended parts, background merges compact them, and
FINAL dedups at read. Mapped here:

- ``merge_changes`` APPENDS a keep-last-compacted delta file and
  observes the buckets it touches while writing it — cost O(batch),
  independent of state size. This is the hot path a 100 TB streaming
  ingest lives on. The write (``keep_last_delta`` rows through
  ``write_delta``) and the commit (``append_delta``, which appends a
  delta dir already written) are separate steps with one commit path:
  ``SyncJob`` writes the deltas of all its tables in one write
  partitioned by table and hands each table's dir to its store's
  ``append_delta``.
- every ``compact_every`` appended deltas (or on explicit ``compact()``)
  the store folds the delta log into the base, rewriting ONLY the
  buckets containing delta keys: state is split into N buckets by
  hash(PK) mod N, so a delta log touching 330 of 1024 buckets
  reads+rewrites 330/1024ths of the state instead of all of it.
- reads apply keep-last across base+deltas (merge-on-read FINAL); with
  an empty delta log the base is already deduped and reads skip the
  window entirely.
- ``write_snapshot`` commits a full state (first_sync, or a caller
  whose merge is not keep-last, like the additive rollup) to a fresh
  version dir.

A manifest maps bucket -> data path plus the ordered delta log, and the
_CURRENT pointer swap makes every commit atomic for readers (a crash
mid-commit leaves the previous manifest current). Every data file is
written to a path no committed manifest lists yet, so superseded delta/
bucket files stay intact and older manifests stay readable
(time-travel / reader isolation); GC of unreferenced versions is an
external janitor concern, as in Delta/Iceberg.

The manifest also records the schema of every path it lists: each delta
entry carries its ``schema`` and ``__schemas__`` maps each live base
version dir to the schema its bucket files were written with. Reads pass
those schemas to ``spark.read.schema`` instead of running a footer-
inference Spark job per path group (the catalog role ClickHouse's table
metadata plays for the reference's INSERTs). A manifest without them
is not read: the lookup raises ``KeyError``.

Measured economics at 10M keys / 1024 buckets / local[32] (bench.py
state10x): appends are ~10x cheaper than a one-bucket full rewrite, and
one compaction per ``compact_every=8`` batches amortizes to less than
rewriting the whole state per batch — see BENCH state10x for the
recorded crossover data.

This is the minimal transactional core of what Delta/Iceberg provide;
with those available, ``merge_changes`` becomes MERGE INTO (or a
streaming append + OPTIMIZE) on a table bucketed/Z-ordered by PK and
this file disappears — the operator layer above is unchanged either way.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clockpipe_spark.cdc.ops import keep_last_by_key

# manifest keys that are not bucket ids all start with "__"
_DELTAS = "__deltas__"
_KEYS = "__keys__"
_SCHEMAS = "__schemas__"
_EMPTY = "__empty__"  # schema of a truncated or empty-snapshot state


def _file_schema(df: DataFrame) -> dict:
    """Schema of the files a ``partitionBy("__bucket")`` write leaves:
    the partition column lives in the directory name, not the files."""
    return T.StructType([f for f in df.schema.fields if f.name != "__bucket"]).jsonValue()


def _read_grouped(spark: SparkSession, parts: list[tuple[str, dict]]) -> DataFrame:
    """Read ``(path, recorded schema)`` entries: ONE
    ``spark.read.schema(s).parquet(*paths)`` per distinct schema,
    aligned with unionByName(allowMissingColumns). Not one read under a
    merged schema: a column whose type changed between files (double
    base, bigint delta) fails the parquet scan, where the union widens
    it."""
    reads: dict[str, tuple[dict, list[str]]] = {}
    for path, schema in parts:
        reads.setdefault(json.dumps(schema), (schema, []))[1].append(path)
    df: DataFrame | None = None
    for schema, paths in reads.values():
        part = spark.read.schema(T.StructType.fromJson(schema)).parquet(*paths)
        df = part if df is None else df.unionByName(part, allowMissingColumns=True)
    return df


def _sql_name(c: str) -> str:
    return "`" + c.replace("`", "``") + "`"


def keep_last_delta(
    changes: DataFrame,
    keys: Sequence[str],
    bucket: str,
    order_col: str = "seq",
    op_col: str = "op",
    by: Sequence[str] = (),
) -> DataFrame:
    """A change batch as delta rows: the last change per ``(*by, *keys)``
    with its data columns, ``last_seq`` (the order column), ``__deleted``
    and ``__bucket`` (the int SQL expression ``bucket``) — the columns of
    every delta file. A routed write keeps its ``by`` columns in the
    data columns and partitions the write by them, so its files hold the
    same columns. SQL strings, not Column builders: each builder call is
    a dozen or more py4j round trips."""
    data_cols = [c for c in changes.columns if c not in (order_col, op_col)]
    return keep_last_by_key(changes, [*by, *keys], order_col).selectExpr(
        *map(_sql_name, data_cols),
        f"{_sql_name(order_col)} AS last_seq",
        f"{_sql_name(op_col)} = 'D' AS __deleted",
        f"{bucket} AS __bucket",
    )


def write_delta(delta: DataFrame, out_dir: str, by: Sequence[str] = ()) -> list:
    """Write ``keep_last_delta`` rows to ``out_dir`` (partitioned by the
    ``by`` columns, if any) and return the distinct touched ``__bucket``
    values, or ``(*by, __bucket)`` rows for a partitioned write. The
    touched set rides the write as an Observation, so learning it costs
    no job; the read side prunes whole delta files via the manifest's
    bucket list before row filters. One file per dir: a delta is
    batch-sized."""
    observed = Observation()
    touched = f"struct({', '.join([*map(_sql_name, by), '__bucket'])})" if by else "__bucket"
    writer = (
        delta.observe(observed, F.expr(f"collect_set({touched}) AS touched"))
        .coalesce(1)
        .write.mode("overwrite")
    )
    if by:
        writer = writer.partitionBy(*by)
    writer.parquet(out_dir)
    return observed.get["touched"]


class BucketedReplicaStore:
    def __init__(self, root: str, n_buckets: int = 16, compact_every: int = 8):
        self.root = root
        self.n_buckets = n_buckets
        self.compact_every = compact_every
        os.makedirs(root, exist_ok=True)

    # -- manifest / commit protocol ---------------------------------------
    @property
    def _current_file(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, f"manifest_{version:06d}.json")

    def current_version(self) -> int:
        try:
            with open(self._current_file) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def read_manifest(self) -> dict:
        v = self.current_version()
        if v < 0:
            return {}
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def _parts(self) -> tuple[dict[str, str], list[dict], list[str], dict[str, dict]]:
        """(bucket -> path, ordered delta log, merge keys, base version
        dir -> recorded schema)."""
        m = self.read_manifest()
        buckets = {k: v for k, v in m.items() if not k.startswith("__")}
        return buckets, m.get(_DELTAS, []), m.get(_KEYS, []), m.get(_SCHEMAS, {})

    def _commit(
        self,
        buckets: dict[str, str],
        deltas: list[dict],
        keys: Sequence[str],
        schemas: dict[str, dict],
        empty: dict | None = None,
    ) -> int:
        manifest: dict = dict(buckets)
        if empty is not None:
            manifest[_EMPTY] = empty
        if deltas:
            manifest[_DELTAS] = deltas
        manifest[_KEYS] = list(keys)
        live = {os.path.dirname(p) for p in buckets.values()}
        schemas = {d: s for d, s in schemas.items() if d in live}
        if schemas:
            manifest[_SCHEMAS] = schemas
        v = self.current_version() + 1
        with open(self._manifest_path(v), "w") as f:
            json.dump(manifest, f)
        tmp = self._current_file + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._current_file)
        return v

    # -- data access --------------------------------------------------------
    def _bucket_sql(self, keys: Sequence[str]) -> str:
        """A row's bucket id as SQL: hash(PK) mod N, an int."""
        cols = ", ".join(map(_sql_name, keys))
        return f"CAST(pmod(xxhash64({cols}), {self.n_buckets}) AS INT)"

    def _read_base(
        self,
        spark: SparkSession,
        bucket_map: dict[str, str],
        schemas: dict[str, dict],
        buckets: list[int] | None,
    ) -> DataFrame | None:
        """Read base state (all buckets, or a touched subset). NOT one
        mergeSchema read: that footer-scans every bucket dir before the
        job starts (hundreds of round-trips per merge at 1024 buckets —
        measured 2x a whole drain). All buckets written in one version
        share the schema ``__schemas__`` records for its version dir, so
        the version dirs sharing one schema are read together with it —
        no footer inference — and the groups align with unionByName,
        keeping schema evolution across versions lossless."""
        if buckets is None:
            paths = sorted(set(bucket_map.values()))
        else:
            paths = sorted({bucket_map[str(b)] for b in buckets if str(b) in bucket_map})
        if not paths:
            return None
        return _read_grouped(spark, [(p, schemas[os.path.dirname(p)]) for p in paths])

    def _read_deltas(self, spark: SparkSession, deltas: list[dict]) -> DataFrame | None:
        """Read the delta log, one read per recorded schema like
        ``_read_base``."""
        if not deltas:
            return None
        return _read_grouped(spark, [(d["path"], d["schema"]) for d in deltas])

    def read_raw(self, spark: SparkSession) -> DataFrame | None:
        """Merge-on-read FINAL view (tombstones still present): base ∪
        delta log, keep-last per key on last_seq. Skips the window when
        the delta log is empty — the base is already deduped. A
        truncated state reads as an empty frame with its columns."""
        bucket_map, deltas, keys, schemas = self._parts()
        base = self._read_base(spark, bucket_map, schemas, None)
        delta = self._read_deltas(spark, deltas)
        if delta is not None:
            delta = delta.drop("__bucket")
            merged = (
                delta if base is None
                else base.unionByName(delta, allowMissingColumns=True)
            )
            # last_seq ties only occur between a row and its redelivered
            # at-least-once twin (a seq identifies one change), so the
            # arbitrary tiebreak is harmless — both rows are identical
            return keep_last_by_key(merged, keys, "last_seq")
        if base is not None:
            return base
        empty = self.read_manifest().get(_EMPTY)
        return None if empty is None else spark.createDataFrame([], T.StructType.fromJson(empty))

    def read(self, spark: SparkSession) -> DataFrame | None:
        raw = self.read_raw(spark)
        if raw is None:
            return None
        return raw.filter(~raw["__deleted"]).drop("__deleted")

    def write_snapshot(self, df: DataFrame, keys: Sequence[str]) -> int:
        """Commit ``df`` as the whole state, replacing base and delta log
        (first_sync's K6 seed, or a full rewrite by a caller whose merge
        is not keep-last). The frame must already carry
        last_seq/__deleted bookkeeping and hold one row per key. Written
        to a fresh version dir, like ``_compact``: the live manifest
        may still list files of every earlier one."""
        version = self.current_version() + 1
        out_dir = os.path.join(self.root, f"v_{version:06d}")
        bucketed = df.withColumn("__bucket", F.expr(self._bucket_sql(keys)))
        (
            bucketed.repartition(self.n_buckets, "__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(out_dir)
        )
        # empty buckets produce no directory — only materialized buckets
        # enter the manifest (absent bucket == empty bucket on read); an
        # empty snapshot keeps its schema like a truncate
        buckets = {
            str(b): os.path.join(out_dir, f"__bucket={b}")
            for b in range(self.n_buckets)
            if os.path.isdir(os.path.join(out_dir, f"__bucket={b}"))
        }
        schema = _file_schema(bucketed)
        return self._commit(buckets, [], keys, {out_dir: schema}, None if buckets else schema)

    def delta_dir(self) -> str:
        """Where the next delta is written: a path no committed manifest
        lists (the version the delta's own commit will take)."""
        return os.path.join(self.root, f"d_{self.current_version() + 1:06d}")

    def append_delta(
        self, delta_dir: str, touched: list[int], schema: dict, keys: Sequence[str]
    ) -> int:
        """Commit a written delta dir as the last entry of the delta log.
        The delta's schema rides its manifest entry, so reads skip footer
        inference."""
        bucket_map, deltas, _, schemas = self._parts()
        deltas = deltas + [{"path": delta_dir, "buckets": touched, "schema": schema}]
        return self._commit(bucket_map, deltas, keys, schemas)

    def compact_due(self) -> bool:
        return len(self._parts()[1]) >= self.compact_every

    def merge_changes(
        self,
        spark: SparkSession,
        changes: DataFrame,
        keys: Sequence[str],
        order_col: str = "seq",
        op_col: str = "op",
    ) -> int:
        """Upsert+delete a change batch (K1+K2): write its keep-last
        delta (``write_delta``), commit it (``append_delta``), then
        compact when the delta log reaches ``compact_every``.

        Replay is idempotent the ReplacingMergeTree(ver, is_deleted) way:
        ``last_seq`` is the version column and COMPETES at read and
        compaction, so a replayed batch of older changes never
        overwrites newer state; deletes persist as tombstone rows
        (``__deleted``), so a replayed pre-delete insert loses to the
        tombstone instead of resurrecting the key. The bucket id is
        always recomputed from the keys (never trusted from data), so
        bucket membership survives schema evolution and re-reads. The
        batch may hold several changes per key: the keep-last here is
        the batch's only dedup."""
        delta = keep_last_delta(changes, keys, self._bucket_sql(keys), order_col, op_col)
        delta_dir = self.delta_dir()
        touched = sorted(write_delta(delta, delta_dir))
        if not touched:
            # empty batch: appending a bucketless delta entry would make
            # every subsequent merge re-enter compaction (which
            # skips empty-touched logs) and grow the log unboundedly
            shutil.rmtree(delta_dir, ignore_errors=True)
            return self.current_version()
        v = self.append_delta(delta_dir, touched, delta.schema.jsonValue(), keys)
        return self._compact(spark, keys) if self.compact_due() else v

    def truncate(self, spark: SparkSession) -> int | None:
        """K3 — TRUNCATE propagation: commit a manifest with no buckets
        and no deltas that keeps the merge keys and the state's schema,
        so reads return an empty frame (pipes/postgres.rs:391-417: the
        table stays, its rows go); the superseded files stay readable
        through older manifests."""
        raw = self.read_raw(spark)
        if raw is None:
            return None
        return self._commit({}, [], self._parts()[2], {}, raw.schema.jsonValue())

    def compact(self, spark: SparkSession, keys: Sequence[str] | None = None) -> int:
        """Fold the pending delta log into the base, rewriting only the
        buckets the deltas touch. No-op if the log is empty."""
        _, deltas, mkeys, _ = self._parts()
        if not deltas:
            return self.current_version()
        return self._compact(spark, keys or mkeys)

    def _compact(self, spark: SparkSession, keys: Sequence[str]) -> int:
        bucket_map, deltas, _, schemas = self._parts()
        touched = sorted({int(b) for d in deltas for b in d["buckets"]})
        if not touched:
            # nothing to rewrite, but an all-empty delta log must still be
            # cleared or later merges re-enter compaction forever
            if deltas:
                return self._commit(bucket_map, [], keys, schemas)
            return self.current_version()

        log = self._read_deltas(spark, deltas)
        base = self._read_base(spark, bucket_map, schemas, touched)
        if base is not None:
            base = base.withColumn("__bucket", F.expr(self._bucket_sql(keys)))
            # equal-seq rows are identical redeliveries (a seq identifies
            # one change), so keep-last's arbitrary tiebreak is harmless
            log = base.unionByName(log, allowMissingColumns=True)
        merged = keep_last_by_key(log, keys, "last_seq")

        # write each touched bucket to a fresh path, reuse the rest
        version = self.current_version() + 1
        out_dir = os.path.join(self.root, f"v_{version:06d}")
        # cap the task count: one task per touched bucket degenerates into
        # hundreds of tiny tasks at high bucket counts; partitionBy still
        # splits each task's output into per-bucket directories
        n_part = max(1, min(len(touched), 32))
        (
            merged.repartition(n_part, "__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(out_dir)
        )
        new_map = dict(bucket_map)
        for b in touched:
            bucket_path = os.path.join(out_dir, f"__bucket={b}")
            if os.path.isdir(bucket_path):
                new_map[str(b)] = bucket_path
            else:  # bucket merged to nothing (possible only if it was empty)
                new_map.pop(str(b), None)
        return self._commit(new_map, [], keys, {**schemas, out_dir: _file_schema(merged)})
