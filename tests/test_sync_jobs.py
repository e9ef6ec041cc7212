"""Spark-job contract of one non-compacting ``SyncJob.sync_iteration``,
pinned at the count measured when it was written, over 2 and over 4
routed tables (half in one-bucket stores, half in 4-bucket stores).

An iteration is one stats job over the cached peek (its first job
materializes the cache) and ONE keep-last write partitioned by table,
so the count does not grow with the number of tables."""

from __future__ import annotations

import random
from datetime import datetime

import pytest
from test_replica_schemas import _count_jobs

from clockpipe_spark.config import PipeConfig, SourceTable, TableOptions
from clockpipe_spark.sync_job import SyncJob

SCHEMA = "tbl string, seq long, op string, user_id long, value double, ts timestamp"
CAP = 64
SYNC_JOBS = 3


def _job(spark, tmp_path, n_tables: int) -> SyncJob:
    rng = random.Random(n_tables)
    rows = [
        (f"t{seq % n_tables}", seq, rng.choice("IIUUUD"), rng.randrange(40), float(seq),
         datetime(2024, 1, 1))
        for seq in range(2 * CAP)
    ]
    path = str(tmp_path / "changes")
    spark.createDataFrame(rows, SCHEMA).write.parquet(path)
    # read from parquet with its schema: no footer-inference job, and no
    # literal rows for the optimizer to fold at plan time
    clog = spark.read.schema(SCHEMA).parquet(path)
    bucketed = TableOptions(sink_buckets=4)
    cfg = PipeConfig(
        tables=[
            SourceTable(f"t{i}", table_options=bucketed if i % 2 else None)
            for i in range(n_tables)
        ],
        peek_changes_limit=CAP,
    )
    return SyncJob(spark, cfg, str(tmp_path), str(tmp_path / "target"),
                   changelog_fn=lambda s: clog)


@pytest.mark.parametrize("n_tables", [2, 4])
def test_sync_iteration_job_contract(spark, tmp_path, n_tables):
    job = _job(spark, tmp_path, n_tables)
    job.sync_iteration()  # the stores' first deltas
    jobs, counters = _count_jobs(spark, job.sync_iteration)
    print(f"sync_iteration over {n_tables} tables: {jobs} jobs")
    assert {t for t, _ in counters} == {f"t{i}" for i in range(n_tables)}
    assert job.read_cursor() == 2 * CAP - 1
    assert all(not job.store_for(f"t{i}").compact_due() for i in range(n_tables))
    assert jobs == SYNC_JOBS
