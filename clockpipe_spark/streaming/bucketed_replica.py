"""Bucketed replica store: hash-partitioned upsert state with
merge-on-read deltas + periodic bucket-scoped compaction.

This is the scale-out version of ReplicaStore (same merge semantics:
version column + tombstones), emulating the ReplacingMergeTree
merge-on-read economics the reference's sink relies on
(adapter/mod.rs:90-105): ClickHouse *inserts* are cheap appended parts,
background merges compact them, and FINAL dedups at read. Mapped here:

- ``merge_changes`` APPENDS a keep-last-compacted delta file and
  observes the buckets it touches while writing it — cost O(batch),
  independent of state size. This is the hot path a 100 TB streaming
  ingest lives on.
- every ``compact_every`` appended deltas (or on explicit ``compact()``)
  the store folds the delta log into the base, rewriting ONLY the
  buckets containing delta keys: state is split into N buckets by
  hash(PK) mod N, so a delta log touching 330 of 1024 buckets
  reads+rewrites 330/1024ths of the state instead of all of it.
- reads apply keep-last across base+deltas (merge-on-read FINAL); with
  an empty delta log the base is already deduped and reads skip the
  window entirely.

A manifest maps bucket -> data path plus the ordered delta log, and the
_CURRENT pointer swap makes every commit atomic for readers (a crash
mid-commit leaves the previous manifest current). Superseded delta/
bucket files are kept on disk so older manifests stay readable
(time-travel / reader isolation); GC of unreferenced versions is an
external janitor concern, as in Delta/Iceberg.

The manifest also records the schema of every path it lists: each delta
entry carries its ``schema`` and ``__schemas__`` maps each live base
version dir to the schema its bucket files were written with. Reads pass
those schemas to ``spark.read.schema`` instead of running a footer-
inference Spark job per path group (the catalog role ClickHouse's table
metadata plays for the reference's INSERTs).

Measured economics at 10M keys / 1024 buckets / local[32] (bench.py
state10x): appends are ~10x cheaper than a flat full rewrite, and one
compaction per ``compact_every=8`` batches amortizes to less than the
flat store pays per batch — see BENCH state10x for the recorded
crossover data.

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


def _file_schema(df: DataFrame) -> dict:
    """Schema of the files a ``partitionBy("__bucket")`` write leaves:
    the partition column lives in the directory name, not the files."""
    return T.StructType([f for f in df.schema.fields if f.name != "__bucket"]).jsonValue()


def _read_grouped(
    spark: SparkSession, parts: list[tuple[str, dict | None, str]]
) -> DataFrame | None:
    """Read ``(path, recorded schema, fallback group)`` entries: ONE
    ``spark.read.schema(s).parquet(*paths)`` per distinct recorded
    schema, aligned with unionByName(allowMissingColumns). Not one read
    under a merged schema: a column whose type changed between files
    (double base, bigint delta) fails the parquet scan, where the union
    widens it."""
    reads: dict[str, tuple[dict | None, list[str]]] = {}
    for path, schema, fallback in parts:
        key = json.dumps(schema) if schema is not None else "?" + fallback
        reads.setdefault(key, (schema, []))[1].append(path)
    df: DataFrame | None = None
    for schema, paths in reads.values():
        if schema is None:
            # written before the store recorded schemas: the one read
            # that infers (one footer-scan Spark job per fallback group)
            part = spark.read.parquet(*paths)
        else:
            part = spark.read.schema(T.StructType.fromJson(schema)).parquet(*paths)
        df = part if df is None else df.unionByName(part, allowMissingColumns=True)
    return df


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
    ) -> int:
        manifest: dict = dict(buckets)
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
    def _bucket_expr(self, keys: Sequence[str]):
        return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(self.n_buckets))

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
        dirs = [os.path.dirname(p) for p in paths]
        return _read_grouped(spark, [(p, schemas.get(d), d) for p, d in zip(paths, dirs)])

    def _read_deltas(
        self, spark: SparkSession, deltas: list[dict], buckets: list[int] | None
    ) -> DataFrame | None:
        """Read the delta log (or the entries touching ``buckets``), one
        read per recorded schema like ``_read_base``."""
        if buckets is not None:
            want = set(buckets)
            deltas = [d for d in deltas if want & set(d["buckets"])]
        if not deltas:
            return None
        df = _read_grouped(spark, [(d["path"], d.get("schema"), d["path"]) for d in deltas])
        if buckets is not None:
            df = df.filter(F.col("__bucket").isin([int(b) for b in buckets]))
        return df

    def _merged_state(
        self, spark: SparkSession, buckets: list[int] | None = None
    ) -> DataFrame | None:
        """Merge-on-read FINAL view (tombstones still present): base ∪
        delta log, keep-last per key on last_seq. Skips the window when
        the delta log is empty — the base is already deduped."""
        bucket_map, deltas, keys, schemas = self._parts()
        base = self._read_base(spark, bucket_map, schemas, buckets)
        delta = self._read_deltas(spark, deltas, buckets)
        if base is not None and "__bucket" not in base.columns:
            base = base.withColumn("__bucket", self._bucket_expr(keys).cast("int"))
        if delta is None:
            return base
        merged = (
            delta if base is None
            else base.unionByName(delta, allowMissingColumns=True)
        )
        # last_seq ties only occur between a row and its redelivered
        # at-least-once twin (a seq identifies one change), so the
        # arbitrary tiebreak is harmless — both rows are identical
        return keep_last_by_key(merged, keys, "last_seq")

    def read_raw(self, spark: SparkSession) -> DataFrame | None:
        raw = self._merged_state(spark)
        return None if raw is None else raw.drop("__bucket")

    def read(self, spark: SparkSession) -> DataFrame | None:
        raw = self.read_raw(spark)
        if raw is None:
            return None
        return raw.filter(~raw["__deleted"]).drop("__deleted")

    def write_snapshot(self, df: DataFrame, keys: Sequence[str]) -> int:
        """Seed all buckets from a snapshot (first_sync, K6 path). The
        frame must already carry last_seq/__deleted bookkeeping."""
        out_dir = os.path.join(self.root, "v_000000_snapshot")
        bucketed = df.withColumn("__bucket", self._bucket_expr(keys).cast("int"))
        (
            bucketed.repartition(self.n_buckets, "__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(out_dir)
        )
        # empty buckets produce no directory — only materialized buckets
        # enter the manifest (absent bucket == empty bucket on read)
        buckets = {
            str(b): os.path.join(out_dir, f"__bucket={b}")
            for b in range(self.n_buckets)
            if os.path.isdir(os.path.join(out_dir, f"__bucket={b}"))
        }
        return self._commit(buckets, [], keys, {out_dir: _file_schema(bucketed)})

    def merge_changes(
        self,
        spark: SparkSession,
        changes: DataFrame,
        keys: Sequence[str],
        order_col: str = "seq",
        op_col: str = "op",
    ) -> int:
        """Apply a change batch: append a keep-last delta, then compact
        when the delta log reaches ``compact_every``. Same merge
        semantics as ReplicaStore.merge_changes (keep-last per PK, delete
        keeps a version-competing tombstone); the bucket id is always
        recomputed from the keys (never trusted from data), so bucket
        membership survives schema evolution and re-reads. The batch may
        hold several changes per key: the keep-last here is the batch's
        only dedup."""
        changes = changes.withColumn("last_seq", F.col(order_col))
        data_cols = [c for c in changes.columns if c not in (order_col, op_col)]
        delta = (
            keep_last_by_key(changes, keys, order_col)
            .withColumn("__deleted", F.col(op_col) == "D")
            .select(*data_cols, "__deleted")
            .withColumn("__bucket", self._bucket_expr(keys).cast("int"))
        )
        bucket_map, deltas, _, schemas = self._parts()
        version = self.current_version() + 1
        delta_dir = os.path.join(self.root, f"d_{version:06d}")
        # the touched-bucket set rides the write as an Observation, so
        # learning it costs no job; the read side prunes whole delta
        # files via the manifest's bucket list before row filters. One
        # file: the delta is batch-sized.
        observed = Observation()
        (
            delta.observe(observed, F.collect_set("__bucket").alias("buckets"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(delta_dir)
        )
        touched = sorted(observed.get["buckets"])
        if not touched:
            # empty batch: appending a bucketless delta entry would make
            # every subsequent merge re-enter compaction (which
            # skips empty-touched logs) and grow the log unboundedly
            shutil.rmtree(delta_dir, ignore_errors=True)
            return self.current_version()
        # the delta's schema rides its manifest entry, so reads skip
        # footer inference
        deltas = deltas + [
            {"path": delta_dir, "buckets": touched, "schema": delta.schema.jsonValue()}
        ]
        v = self._commit(bucket_map, deltas, keys, schemas)
        if len(deltas) >= self.compact_every:
            return self._compact(spark, keys)
        return v

    def truncate(self, spark: SparkSession) -> int | None:
        """K3 — TRUNCATE propagation: commit an empty manifest (no
        buckets, no deltas), keeping the merge keys; the superseded
        files stay readable through older manifests."""
        if self.current_version() < 0:
            return None
        return self._commit({}, [], self._parts()[2], {})

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

        log = self._read_deltas(spark, deltas, None)
        base = self._read_base(spark, bucket_map, schemas, touched)
        if base is not None:
            if "__bucket" not in base.columns:
                base = base.withColumn("__bucket", self._bucket_expr(keys).cast("int"))
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
