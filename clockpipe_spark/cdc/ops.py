"""Sync-layer dataflow operators (SURVEY.md §2.2-2.4) as DataFrame ops.

Each function is a declarative transformation — Catalyst sees the whole
plan, so dedup compiles to one shuffle-on-PK window, routing counts to a
partial-aggregated groupBy, and masking/alignment to pure projections
(zero shuffle). At 100 TB the only shuffle any of these introduce is the
unavoidable hash-partition-by-key for keep-last dedup; everything else is
map-side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clockpipe_spark.functions.casts import mask_column


def keep_last_by_key(
    df: DataFrame, keys: Sequence[str], order_col: str = "seq"
) -> DataFrame:
    """A1 — keep only the LAST change per primary key within a batch
    (adapter/mod.rs:258-269; call sites pipes/postgres.rs:782-787).

    The reference renders composite PKs as 'v1|v2' strings
    (pipes/postgres.rs:789-802); partitioning by the raw key columns is
    the Spark-native equivalent and avoids the string materialization.
    One shuffle on the key columns; AQE splits skewed keys. The window
    is one SQL string (a handful of py4j round trips against ~90 for
    the Column-built window); it runs in every replica read with
    pending deltas and every compaction.
    """
    by = ", ".join(map(_quoted, keys))
    return (
        df.withColumn(
            "__rn",
            F.expr(f"row_number() OVER (PARTITION BY {by} ORDER BY {_quoted(order_col)} DESC)"),
        )
        .filter("__rn = 1")
        .drop("__rn")
    )


def _quoted(name: str) -> str:
    """A column name as a SQL identifier, whatever characters it holds."""
    return "`" + name.replace("`", "``") + "`"


def replica_state(
    changelog: DataFrame,
    keys: Sequence[str] = ("user_id",),
    order_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Dedup-on-read 'FINAL' view: the visible replica state after applying
    a change-log — keep-last per key, then drop keys whose last op is a
    Delete. Emulates ReplacingMergeTree + mutate-DELETE semantics
    (adapter/mod.rs:90-93, 201-255) in a single window pass.

    Note: the reference flushes inserts before deletes within a batch
    (pipes/postgres.rs:422-485), which can mis-order a delete-then-reinsert
    inside one batch; resolving strictly by max-seq *including the op* is
    the corrected semantics (SURVEY.md §2.7 T4 — documented divergence).
    """
    return keep_last_by_key(changelog, keys, order_col).filter(F.col(op_col) != "D")


def align_to_schema(df: DataFrame, target: T.StructType) -> DataFrame:
    """P1 — column-alignment projection (adapter/mod.rs:161-190).

    For each target column, take the source column when present else a
    typed NULL (missing source column -> Null, adapter/postgres.rs:340-345;
    Mongo missing field -> None -> Default, mongodb.rs:584-596). Pure
    projection: no shuffle, prunes unreferenced source columns at the scan.
    """
    present = {f.name for f in df.schema.fields}
    cols = [
        (F.col(f.name) if f.name in present else F.lit(None)).cast(f.dataType).alias(f.name)
        for f in target.fields
    ]
    return df.select(*cols)


def apply_masks(df: DataFrame, mask_columns: Sequence[str]) -> DataFrame:
    """P2 — replace configured columns with typed NULLs before any cast
    (adapter/mod.rs:183-185; config.rs:91-94, 230-231)."""
    masked = set(mask_columns)
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return df.select(
        *[
            mask_column(by_name[c]).alias(c) if c in masked else F.col(c)
            for c in df.columns
        ]
    )


def route_counts(
    changelog: DataFrame, table_col: str = "tbl", op_col: str = "op"
) -> DataFrame:
    """A2+A3 — group-by-table routing with per-op write counters
    (pipes/postgres.rs:295-420; WriteCounter pipes/mod.rs:23-28).

    In the reference this is a HashMap of per-table queues; in Spark it is
    one partially-aggregated groupBy (map-side combine, tiny shuffle).
    """
    return changelog.groupBy(table_col, op_col).agg(F.count("*").alias("n_changes"))


def fill_unchanged_toast(
    df: DataFrame,
    keys: Sequence[str],
    value_cols: Sequence[str],
    order_col: str = "seq",
    marker_suffix: str = "__unchanged",
) -> DataFrame:
    """T5 — TOAST 'unchanged' backfill (pgoutput.rs:517-551).

    The pgoutput 'u' cell marker means "unchanged, payload omitted" — it
    is NOT the same thing as NULL. Two modes:

    - When a boolean companion column ``<col><marker_suffix>`` exists
      (the pgoutput decoder emits these), ONLY marked cells are
      back-filled from the previous row state — a genuine
      ``UPDATE ... SET col = NULL`` stays NULL, exactly like the
      reference. A marked cell whose backfill source is itself NULL
      resolves to NULL (the reference's NULL+warn path). Marker columns
      are dropped from the output.
    - Without a marker column, NULL itself is treated as the marker and
      the last non-null value is carried forward. This conflates
      SET-to-NULL with unchanged-TOAST — a documented divergence for
      feeds that arrive already structured without cell markers (same
      spirit as the SURVEY §2.7 T4 ordering divergence).
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = df
    markers_to_drop = []
    for c in value_cols:
        marker = c + marker_suffix
        if marker in df.columns:
            # Rows with the marker contribute a NULL struct, so the last
            # non-null struct is the most recent REAL cell — whose payload
            # may legitimately be NULL (genuine SET col = NULL backfills
            # as NULL, not as an older resurrected value).
            real_cell = F.when(
                ~F.coalesce(F.col(marker), F.lit(False)),
                F.struct(F.col(c).alias("v")),
            )
            filled = filled.withColumn(
                c, F.last(real_cell, ignorenulls=True).over(w)["v"]
            )
            markers_to_drop.append(marker)
        else:
            filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return filled.drop(*markers_to_drop)


def apply_changelog_to_snapshot(
    snapshot: DataFrame,
    changelog: DataFrame,
    keys: Sequence[str],
    order_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """K1+K2 — merge a change batch into a snapshot (upsert + delete).

    Spark-native MERGE: union the snapshot (as seq=-1 'I' rows) with the
    batch, keep-last per key, filter deletes. Equivalent to the
    ReplacingMergeTree insert + ALTER DELETE pair (adapter/mod.rs:143-255)
    but atomic per batch. Data columns must match between the two inputs.
    """
    snap = snapshot.withColumn(order_col, F.lit(-1).cast("bigint")).withColumn(
        op_col, F.lit("I")
    )
    merged = snap.unionByName(changelog.select(*snap.columns))
    return replica_state(merged, keys, order_col, op_col).drop(order_col, op_col)
