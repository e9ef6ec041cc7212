"""Sync-layer operator semantics (SURVEY.md §2.2-2.4) on handcrafted
change batches — mirrors the reference's dedup/masking behavior
(adapter/mod.rs:258-269, 183-185)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from clockpipe_spark.cdc.ops import (
    align_to_schema,
    apply_changelog_to_snapshot,
    apply_masks,
    keep_last_by_key,
    replica_state,
    route_counts,
)


def _clog(spark, rows):
    return spark.createDataFrame(
        rows, "seq long, op string, tbl string, user_id long, value double"
    )


def test_keep_last_by_key(spark):
    # adapter/mod.rs:258-269: N changes to one PK in a batch -> only the
    # last survives
    clog = _clog(
        spark,
        [
            (1, "I", "t0", 1, 10.0),
            (2, "U", "t0", 1, 20.0),
            (3, "U", "t0", 1, 30.0),
            (4, "I", "t0", 2, 99.0),
        ],
    )
    got = {r["user_id"]: r for r in keep_last_by_key(clog, ["user_id"]).collect()}
    assert got[1]["value"] == 30.0 and got[1]["seq"] == 3
    assert got[2]["value"] == 99.0


def test_keep_last_composite_key(spark):
    # composite PK handling (pipes/postgres.rs:789-802)
    df = spark.createDataFrame(
        [(1, 1, "a", 1.0), (2, 1, "a", 2.0), (3, 1, "b", 5.0)],
        "seq long, k1 long, k2 string, value double",
    )
    got = keep_last_by_key(df, ["k1", "k2"]).collect()
    vals = {(r["k1"], r["k2"]): r["value"] for r in got}
    assert vals == {(1, "a"): 2.0, (1, "b"): 5.0}


def test_keep_last_sql_window_plan_matches_column_window(spark):
    """The SQL-string window builds the Column-built window's plan, and
    key names that are not identifiers (a space, a backtick) resolve."""
    import os
    import sys

    from pyspark.sql import Window

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.plan_equiv import assert_equiv

    df = spark.createDataFrame(
        [(1, 1, "a", 1.0), (2, 1, "a", 2.0), (3, 1, "b", 5.0), (4, 2, "a", None)],
        "`last seq` long, `my key` long, `k``2` string, value double",
    )
    keys = ["my key", "k`2"]
    w = Window.partitionBy(*[F.col(f"`{k.replace('`', '``')}`") for k in keys]).orderBy(
        F.col("`last seq`").desc()
    )
    by_columns = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    got = keep_last_by_key(df, keys, "last seq")
    assert_equiv(by_columns.drop("__rn"), got)
    assert sorted(tuple(r) for r in got.collect()) == [
        (2, 1, "a", 2.0), (3, 1, "b", 5.0), (4, 2, "a", None)
    ]


def test_replica_state_delete_wins(spark):
    # final op D -> key invisible; delete-then-reinsert resolved by seq
    # (corrected T4 semantics, SURVEY.md §2.7)
    clog = _clog(
        spark,
        [
            (1, "I", "t0", 1, 10.0),
            (2, "D", "t0", 1, 0.0),
            (3, "I", "t0", 2, 5.0),
            (4, "D", "t0", 2, 0.0),
            (5, "I", "t0", 2, 7.0),  # re-insert after delete
        ],
    )
    got = {r["user_id"]: r["value"] for r in replica_state(clog).collect()}
    assert got == {2: 7.0}


def test_align_to_schema(spark):
    src = spark.createDataFrame([(1, "x", 2.0)], "a long, b string, dropme double")
    target = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("missing", T.IntegerType()),
        ]
    )
    row = align_to_schema(src, target).first()
    assert row["a"] == 1 and row["b"] == "x" and row["missing"] is None
    assert align_to_schema(src, target).columns == ["a", "b", "missing"]


def test_apply_masks(spark):
    src = spark.createDataFrame([(1, "secret", 3.5)], "id long, name string, bal double")
    got = apply_masks(src, ["name", "bal"]).first()
    assert got["id"] == 1 and got["name"] is None and got["bal"] is None
    # schema preserved (typed nulls)
    assert apply_masks(src, ["name", "bal"]).schema == src.schema


def test_route_counts(spark):
    clog = _clog(
        spark,
        [(1, "I", "t0", 1, 1.0), (2, "I", "t0", 2, 1.0), (3, "D", "t1", 3, 1.0)],
    )
    got = {(r["tbl"], r["op"]): r["n_changes"] for r in route_counts(clog).collect()}
    assert got == {("t0", "I"): 2, ("t1", "D"): 1}


def test_apply_changelog_to_snapshot(spark):
    snapshot = spark.createDataFrame([(1, 10.0), (2, 20.0)], "user_id long, value double")
    changes = _clog(
        spark,
        [
            (1, "U", "t0", 1, 11.0),   # update key 1
            (2, "D", "t0", 2, 0.0),    # delete key 2
            (3, "I", "t0", 3, 33.0),   # insert key 3
        ],
    ).select("seq", "op", "user_id", "value")
    got = {
        r["user_id"]: r["value"]
        for r in apply_changelog_to_snapshot(snapshot, changes, ["user_id"]).collect()
    }
    assert got == {1: 11.0, 3: 33.0}
