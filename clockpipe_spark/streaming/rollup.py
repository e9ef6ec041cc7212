"""Continuous aggregate (hypertable-rollup style): a pre-aggregated
table maintained incrementally as change batches arrive, so dashboard
queries read O(windows) rows instead of re-scanning the event log.

Maintenance is ADDITIVE merge — each batch contributes partial
aggregates per (window, group) key which are summed into the stored
rollup — unlike the replica's keep-last merge. Additivity is what makes
it exactly-incremental: count/sum (and avg as sum/count) merge without
reprocessing history. The equivalence test recomputes from scratch and
compares.

At scale: the rollup state is tiny (O(active windows × groups)); each
micro-batch shuffles only its own partial aggregates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clockpipe_spark.streaming.replica import ReplicaStore


class ContinuousRollup:
    """Hourly (window_start, event_type) -> (n, sum_value) rollup."""

    KEYS = ("window_start", "event_type")

    def __init__(self, root: str):
        self.store = ReplicaStore(root)

    @staticmethod
    def aggregate_batch(batch: DataFrame) -> DataFrame:
        return batch.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        ).agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))

    def apply_batch(self, spark: SparkSession, batch: DataFrame) -> None:
        """Merge one event batch's partial aggregates into the rollup."""
        delta = self.aggregate_batch(batch)
        state = self.store.read_raw(spark)
        if state is not None:
            merged = (
                state.drop("last_seq", "__deleted")
                .unionByName(delta)
                .groupBy(*self.KEYS)
                .agg(F.sum("n").alias("n"), F.sum("sum_value").alias("sum_value"))
            )
        else:
            merged = delta
        # additive, not keep-last: the summed rollup replaces the state
        self.store.write_snapshot(
            merged.withColumn("last_seq", F.lit(-1).cast("bigint")).withColumn(
                "__deleted", F.lit(False)
            ),
            self.KEYS,
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        state = self.store.read(spark)
        if state is None:
            return None
        return state.select(
            *self.KEYS, "n", F.round("sum_value", 2).alias("sum_value")
        )
