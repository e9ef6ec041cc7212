"""Spark-job contract of one ingest micro-batch, pinned at the counts
measured when it was written: a ``CorpusIngestPipeline.process_batch``
of long docs and of long docs mixed with docs the quality gate drops,
and a ``StreamingNearDup.process_batch`` of long docs, of long docs
mixed with docs too short to shingle, and of short docs only (an empty
signature set).

A dedup batch is one checkpoint of the signature pass, one checkpoint
of the probe (a broadcast per join) and one write per state log. A
short doc's text hash is its band key and its sig row a NULL-minhash
admission marker, so a batch of any mix of long and short docs runs
the same jobs."""

from __future__ import annotations

import random

import pytest
from test_commit_faults import _long_doc
from test_replica_schemas import _count_jobs

from clockpipe_spark.streaming.corpus_ingest import CorpusIngestPipeline
from clockpipe_spark.streaming.neardup_state import StreamingNearDup

_rng = random.Random(17)
_LONG = [_long_doc(_rng) for _ in range(8)]
_SEED = [(i, _LONG[i]) for i in range(4)]

BATCHES = {
    "all_long": [(10, _LONG[4]), (11, _LONG[5]), (12, _LONG[0])],
    "mixed": [(10, _LONG[4]), (11, "too short"), (12, _LONG[0]), (13, "hi"), (14, "yo")],
    "all_short": [(10, "too short"), (11, "hi"), (12, "ok then")],
}
PIPELINE_JOBS = {"all_long": 9, "mixed": 9}
DEDUP_JOBS = {"all_long": 8, "mixed": 8, "all_short": 8}


def _parquet_batch(spark, tmp_path, name, rows):
    """A batch read from parquet, as a file or streaming source delivers
    it (an in-memory frame over a literal list would let the optimizer
    evaluate the quality gate at plan time)."""
    path = str(tmp_path / name)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    return spark.read.schema("doc_id long, text string").parquet(path)


@pytest.mark.parametrize("kind", list(PIPELINE_JOBS))
def test_ingest_batch_job_contract(spark, tmp_path, kind):
    pipe = CorpusIngestPipeline(spark, str(tmp_path / "ingest"), threshold=0.5)
    pipe.process_batch(_parquet_batch(spark, tmp_path, "seed", _SEED), batch_id=0)
    docs = _parquet_batch(spark, tmp_path, kind, BATCHES[kind])
    jobs, _ = _count_jobs(spark, lambda: pipe.process_batch(docs, batch_id=1))
    print(f"pipeline {kind}: {jobs} jobs")
    assert jobs == PIPELINE_JOBS[kind]


@pytest.mark.parametrize("kind", list(DEDUP_JOBS))
def test_dedup_batch_job_contract(spark, tmp_path, kind):
    nd = StreamingNearDup(spark, str(tmp_path / "nd"), threshold=0.5)
    nd.process_batch(_parquet_batch(spark, tmp_path, "seed", _SEED + [(5, "hi")]))
    docs = _parquet_batch(spark, tmp_path, kind, BATCHES[kind])
    jobs, _ = _count_jobs(spark, lambda: nd.process_batch(docs))
    print(f"dedup {kind}: {jobs} jobs")
    assert jobs == DEDUP_JOBS[kind]
