"""Misra-Gries heavy hitters: the sketch bounds memory, the verify pass
restores exactness. These tests pin the two halves separately — summary
size stays <= k per partition, and the composed operator equals the
exact GROUP BY even under adversarial partitioning that spreads a heavy
item thinly across every partition."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from clockpipe_spark.operators.sketches import (
    heavy_hitters_exact,
    mg_partition_summaries,
)


def _stream(spark, n_partitions: int):
    """60% one heavy item, 20% a second, 20% spread over 2000 rare items
    — round-robin partitioned so every partition sees every item."""
    base = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 6, F.lit("heavy_a"))
        .when(F.col("id") % 10 < 8, F.lit("heavy_b"))
        .otherwise(F.concat(F.lit("rare_"), (F.col("id") % 2000).cast("string")))
        .alias("term")
    )
    return base.repartition(n_partitions)


def test_summaries_bounded_per_partition(spark):
    k = 8
    df = _stream(spark, 6)
    summaries = mg_partition_summaries(df, "term", k)
    # <= k rows per partition => <= k * partitions total
    assert summaries.count() <= k * 6
    # and both true heavy items survive in at least one summary
    kept = {r["term"] for r in summaries.collect()}
    assert {"heavy_a", "heavy_b"} <= kept


def test_heavy_hitters_equal_exact(spark):
    k = 8
    df = _stream(spark, 6).cache()
    got = {
        (r["term"], r["cnt"]) for r in heavy_hitters_exact(df, "term", k).collect()
    }
    total = df.count()
    exact = {
        (r["term"], r["cnt"])
        for r in df.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") * k > F.lit(total))
        .collect()
    }
    assert got == exact
    assert {t for t, _ in got} == {"heavy_a", "heavy_b"}


def test_registry_query_matches_plain_groupby(spark, sf_dir):
    from clockpipe_spark.queries.sketches import _HH_K, frequent_items_mg

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tokens = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term")
    ).cache()
    total = tokens.count()
    exact = {
        (r["term"], r["cnt"])
        for r in tokens.groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") * _HH_K > F.lit(total))
        .collect()
    }
    got = {
        (r["term"], r["cnt"]) for r in frequent_items_mg(spark, sf_dir).collect()
    }
    assert got == exact
    assert got, "fixture must contain heavy hitters at k=32"


def test_hll_rollup_bounds_and_merge_identity(spark, sf_dir):
    """Estimates stay within HLL's expected error of the exact counts,
    cumulative is monotone, and the final cumulative union of daily
    sketches equals the one-pass whole-stream sketch EXACTLY (merge is
    lossless, not approximately-lossless)."""
    from clockpipe_spark.queries.sketches import hll_user_rollup

    rows = hll_user_rollup(spark, sf_dir).collect()
    assert rows, "rollup produced no days"

    from clockpipe_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    daily_exact = {
        r["day"]: r["c"]
        for r in events.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("c"))
        .collect()
    }
    total_exact = events.select("user_id").distinct().count()

    prev_cum = 0
    for r in rows:
        exact_d = daily_exact[r["day"]]
        assert abs(r["daily_users_est"] - exact_d) <= max(2, 0.05 * exact_d)
        assert r["cum_users_est"] >= prev_cum  # monotone merge
        prev_cum = r["cum_users_est"]
    assert abs(prev_cum - total_exact) <= max(2, 0.05 * total_exact)

    # merge identity: union of the daily sketches == one-pass sketch
    one_pass = events.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("long").alias("e")
    ).collect()[0]["e"]
    assert prev_cum == one_pass


def test_quantile_rollup_error_bound(spark, sf_dir):
    """The histogram quantile's lower bin edge is within one bin width
    of the exact cumulative percentile, for every day and quantile."""
    from clockpipe_spark.queries.timeseries2 import (
        _QH_BIN_W,
        quantile_histogram_rollup,
    )
    from clockpipe_spark.catalog import load_table

    rows = quantile_histogram_rollup(spark, sf_dir).collect()
    events = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "value"
    ).collect()
    import math

    vals_by_day: dict = {}
    for r in events:
        vals_by_day.setdefault(r["day"], []).append(r["value"])
    days = sorted(vals_by_day)
    for r in rows:
        cum = [v for d in days if d <= r["day"] for v in vals_by_day[d]]
        cum.sort()
        n = len(cum)
        assert r["n_events_to_date"] == n
        for q, col in ((0.5, "p50_lo"), (0.9, "p90_lo"), (0.99, "p99_lo")):
            # exact value at ceil(q*n) rank (the rank the rollup targets)
            rank = max(1, math.ceil(q * n))
            exact = cum[rank - 1]
            lo = r[col]
            assert lo <= exact < lo + _QH_BIN_W, (r["day"], col, lo, exact)
