"""Versioned parquet replica store — the sink-side upsert target.

The reference delegates upsert semantics to ClickHouse
ReplacingMergeTree + async DELETE mutations (adapter/mod.rs:90-105,
201-255). Spark's equivalent with plain parquet (no Delta in this
container) is merge-on-write into a *versioned* directory: each merge
writes a complete new state under ``v_NNNN/`` and atomically repoints a
``_CURRENT`` marker. Readers always see a consistent snapshot; a crash
mid-write leaves the previous version current (same guarantee Delta's
transaction log provides, minimal edition).

Each version records the schema it was written with in a ``_schema.json``
sidecar (Spark's file index skips ``_`` names), written before the
``_CURRENT`` swap, so reads pass it to ``spark.read.schema`` instead of
running a footer-inference Spark job per read — the way a ClickHouse
INSERT appends to a table whose schema lives in the catalog. Only a
version written before stores recorded schemas is read by inference.

At scale the state would additionally be hash-partitioned on the merge
key (``.repartition(pk)`` before write) so each micro-batch only rewrites
buckets containing changed keys — noted where it applies.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_SCHEMA = "_schema.json"


class ReplicaStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _current_file(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def current_version(self) -> int:
        try:
            with open(self._current_file) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def current_path(self) -> str | None:
        v = self.current_version()
        return None if v < 0 else os.path.join(self.root, f"v_{v:04d}")

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Visible replica state (tombstones filtered)."""
        raw = self.read_raw(spark)
        if raw is None:
            return None
        return raw.filter(~raw["__deleted"]).drop("__deleted")

    def read_raw(self, spark: SparkSession) -> DataFrame | None:
        """Full state including delete tombstones."""
        path = self.current_path()
        if path is None:
            return None
        try:
            with open(os.path.join(path, _SCHEMA)) as f:
                schema = T.StructType.fromJson(json.load(f))
        except FileNotFoundError:
            # a version written before the store recorded schemas: the
            # one read that infers (one footer-scan Spark job)
            return spark.read.parquet(path)
        return spark.read.schema(schema).parquet(path)

    def write(self, df: DataFrame) -> int:
        """Write a full new state version, record its schema, and
        atomically repoint."""
        v = self.current_version() + 1
        path = os.path.join(self.root, f"v_{v:04d}")
        df.write.mode("overwrite").parquet(path)
        with open(os.path.join(path, _SCHEMA), "w") as f:
            json.dump(df.schema.jsonValue(), f)
        tmp = self._current_file + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._current_file)  # atomic pointer swap
        return v

    def merge_changes(
        self,
        spark: SparkSession,
        changes: DataFrame,
        keys: Sequence[str],
        order_col: str = "seq",
        op_col: str = "op",
    ) -> int:
        """Upsert+delete a change batch into the current state (K1+K2).

        Exactly the reference's per-iteration write step, expressed as one
        declarative merge instead of INSERT + ALTER DELETE strings, with
        the two ingredients that make at-least-once replay idempotent
        (the ReplacingMergeTree(ver, is_deleted) pattern):

        - ``last_seq`` is the version column and COMPETES in the merge —
          a replayed batch of older changes can never overwrite newer
          state;
        - deletes persist as tombstone rows (``__deleted``) instead of
          physically vanishing — a replayed pre-delete insert loses to
          the tombstone's higher version instead of resurrecting the key.

        One keep-last over changes ∪ state settles within-batch churn
        too (several updates of a key, delete-then-reinsert, a
        redelivered seq), so callers pass the batch un-deduplicated.
        """
        import pyspark.sql.functions as F

        from clockpipe_spark.cdc.ops import keep_last_by_key

        changes = changes.withColumn("last_seq", F.col(order_col))
        log = changes.select(
            order_col, op_col,
            *[c for c in changes.columns if c not in (order_col, op_col)],
        )
        state = self.read_raw(spark)
        if state is not None:
            state_as_log = state.withColumn(order_col, F.col("last_seq")).withColumn(
                op_col, F.when(F.col("__deleted"), "D").otherwise("I")
            ).drop("__deleted")
            # allowMissingColumns = schema evolution (K5): a new source
            # column appears -> NULL-filled in old state rows; a dropped
            # column stays in place NULL-filled (docs/postgres/README.md:55-62)
            log = log.unionByName(state_as_log, allowMissingColumns=True)
        data_cols = [c for c in log.columns if c not in (order_col, op_col)]
        merged = (
            keep_last_by_key(log, keys, order_col)
            .withColumn("__deleted", F.col(op_col) == "D")
            .select(*data_cols, "__deleted")
        )
        return self.write(merged)

    def truncate(self, spark: SparkSession) -> int | None:
        """K3 — TRUNCATE propagation: drop all state, keep the schema
        (pipes/postgres.rs:391-417 applies it inline, not queued)."""
        state = self.read_raw(spark)
        if state is None:
            return None
        return self.write(state.limit(0))
