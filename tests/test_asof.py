"""As-of join edge semantics: >= tie inclusion, missing-match NULL,
per-key isolation."""

from __future__ import annotations

import datetime

from clockpipe_spark.operators.asof import asof_join


def _ts(m):
    return datetime.datetime(2024, 1, 1, 12, m)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, 1, _ts(0)),    # before any right row -> NULL
            (2, 1, _ts(5)),    # exactly at right ts -> tie included (>=)
            (3, 1, _ts(7)),    # between -> takes 12:05
            (4, 1, _ts(20)),   # after both -> takes 12:10
            (5, 2, _ts(30)),   # other key, no right rows -> NULL
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, _ts(5), 50.0), (1, _ts(10), 99.0)],
        "user_id long, ts timestamp, px double",
    )
    out = {
        r["event_id"]: r["px_asof"]
        for r in asof_join(
            left, right, by=["user_id"], on="ts", value_cols=["px"]
        ).collect()
    }
    assert out == {1: None, 2: 50.0, 3: 50.0, 4: 99.0, 5: None}


def test_asof_join_awkward_column_names(spark):
    """A space in a left column name and a colon in a right value
    column name: both sides' typed NULL columns must still build."""
    left = spark.createDataFrame(
        [(1, 1, _ts(0)), (2, 1, _ts(7))],
        "`my val` long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, _ts(5), 50.0)], "user_id long, ts timestamp, `px:usd` double"
    )
    for direction, want in (
        ("backward", {1: None, 2: 50.0}),
        ("forward", {1: 50.0, 2: None}),
    ):
        out = asof_join(
            left, right, by=["user_id"], on="ts", value_cols=["px:usd"], direction=direction
        )
        assert out.columns == ["my val", "user_id", "ts", "px:usd_asof"]
        assert {r["my val"]: r["px:usd_asof"] for r in out.collect()} == want, direction


def test_asof_join_forward(spark):
    left = spark.createDataFrame(
        [
            (1, 1, _ts(0)),    # before both -> earliest following = 12:05
            (2, 1, _ts(5)),    # exactly at right ts -> tie included (<=)
            (3, 1, _ts(7)),    # between -> takes 12:10
            (4, 1, _ts(20)),   # after both -> NULL
            (5, 2, _ts(30)),   # other key, no right rows -> NULL
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, _ts(5), 50.0), (1, _ts(10), 99.0)],
        "user_id long, ts timestamp, px double",
    )
    out = {
        r["event_id"]: r["px_asof"]
        for r in asof_join(
            left, right, by=["user_id"], on="ts", value_cols=["px"],
            direction="forward",
        ).collect()
    }
    assert out == {1: 50.0, 2: 50.0, 3: 99.0, 4: None, 5: None}


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [
            (1, 1, _ts(6)),    # 1 min after 12:05 -> within 2-min tol
            (2, 1, _ts(9)),    # 4 min after 12:05 -> out of tolerance
            (3, 1, _ts(11)),   # 1 min after 12:10 -> within
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, _ts(5), 50.0), (1, _ts(10), 99.0)],
        "user_id long, ts timestamp, px double",
    )
    tol = 2 * 60 * 1_000_000  # 2 minutes in microseconds
    back = {
        r["event_id"]: r["px_asof"]
        for r in asof_join(
            left, right, by=["user_id"], on="ts", value_cols=["px"],
            tolerance_us=tol,
        ).collect()
    }
    assert back == {1: 50.0, 2: None, 3: 99.0}
    fwd = {
        r["event_id"]: r["px_asof"]
        for r in asof_join(
            left, right, by=["user_id"], on="ts", value_cols=["px"],
            direction="forward", tolerance_us=tol,
        ).collect()
    }
    # 12:06 -> next is 12:10 (4 min, out); 12:09 -> 12:10 (1 min, in);
    # 12:11 -> nothing follows -> NULL
    assert fwd == {1: None, 2: 99.0, 3: None}


def test_asof_selectexpr_build_matches_column_build(spark, sf_dir):
    """r21 exprification pin: the selectExpr-built asof plan must equal
    the Column-built reference (optimizedPlan modulo expr ids)."""
    import os
    import sys

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.plan_equiv import assert_equiv

    from clockpipe_spark.catalog import load_table
    from clockpipe_spark.operators.asof import asof_join

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    left = cust.select(
        F.col("c_custkey").alias("k"),
        F.lit("2024-01-01").cast("timestamp").alias("ts"),
        "c_name",
    )
    right = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        "o_orderkey",
    )

    def reference(direction):
        # the pre-r21 Column-by-Column build, inlined as the pinned twin
        by, on, value_cols, lcols = ["k"], "ts", ["o_orderkey"], left.columns
        l_side, r_side = (1, 0) if direction == "backward" else (0, 1)
        on_type = right.schema[on].dataType
        l_tagged = left.select(
            *by,
            F.col(on),
            F.lit(l_side).alias("__side"),
            F.lit(None).cast(on_type).alias("__r_on"),
            *[
                F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
                for c in value_cols
            ],
            F.struct(*[F.col(c) for c in lcols]).alias("__l"),
        )
        r_tagged = right.select(
            *by,
            F.col(on),
            F.lit(r_side).alias("__side"),
            F.col(on).alias("__r_on"),
            *[F.col(c).alias(f"__r_{c}") for c in value_cols],
            F.lit(None).cast(l_tagged.schema["__l"].dataType).alias("__l"),
        )
        unioned = l_tagged.unionByName(r_tagged)
        base = Window.partitionBy(*by).orderBy(
            F.col(on).asc(), F.col("__side").asc()
        )
        if direction == "backward":
            w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            carry = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
        else:
            w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
            carry = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731
        carried = unioned.select(
            "__side",
            "__l",
            carry("__r_on").alias("__r_on"),
            *[carry(f"__r_{c}").alias(f"__r_{c}") for c in value_cols],
        )
        picked = carried.filter(F.col("__side") == F.lit(l_side))
        return picked.select(
            *[F.col("__l").getField(c).alias(c) for c in lcols],
            *[F.col(f"__r_{c}").alias(f"{c}_asof") for c in value_cols],
        )

    for direction in ("backward", "forward"):
        got = asof_join(left, right, ["k"], "ts", ["o_orderkey"], direction=direction)
        assert_equiv(reference(direction), got, direction)
