"""Replica stores read with the schemas they recorded at write time:
building a read launches no Spark job, a merge launches only its write,
a column whose type changed across files still widens, and a store
written before schemas were recorded still reads (by inference)."""

from __future__ import annotations

import json
import os

from clockpipe_spark.streaming.bucketed_replica import (
    _DELTAS,
    _SCHEMAS,
    BucketedReplicaStore,
)
from clockpipe_spark.streaming.replica import _SCHEMA, ReplicaStore

KEYS = ["user_id"]


def _clog(spark, rows, value_type="double"):
    return spark.createDataFrame(
        rows, f"seq long, op string, user_id long, value {value_type}"
    )


def _jobs(spark) -> int:
    """Spark jobs launched so far (the counter perfbench's tracer reads)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.dagScheduler().nextJobId()


def _count_jobs(spark, fn):
    before = _jobs(spark)
    out = fn()
    return _jobs(spark) - before, out


def _rows(df):
    return sorted((r["user_id"], r["value"]) for r in df.collect())


def _seed(i):
    return [(i * 100 + k, "I", k, float(k)) for k in range(32)]


def test_store_job_contract(spark, tmp_path):
    flat = ReplicaStore(str(tmp_path / "flat"))
    flat.merge_changes(spark, _clog(spark, _seed(0)), KEYS)
    jobs, _ = _count_jobs(spark, lambda: flat.read(spark))
    assert jobs == 0, "building the flat read"
    jobs, _ = _count_jobs(
        spark, lambda: flat.merge_changes(spark, _clog(spark, _seed(1)), KEYS)
    )
    assert jobs <= 2, "flat merge_changes"

    bkt = BucketedReplicaStore(str(tmp_path / "bkt"), n_buckets=8, compact_every=100)
    bkt.merge_changes(spark, _clog(spark, _seed(0)), KEYS)
    bkt.compact(spark)
    jobs, _ = _count_jobs(
        spark, lambda: bkt.merge_changes(spark, _clog(spark, _seed(1)), KEYS)
    )
    assert jobs <= 2, "bucketed non-compacting merge_changes"
    bkt.merge_changes(spark, _clog(spark, _seed(2)), KEYS)
    assert len(bkt.read_manifest()[_DELTAS]) == 2
    jobs, _ = _count_jobs(spark, lambda: bkt.read(spark))
    assert jobs == 0, "building the bucketed read (base + 2 deltas)"

    for i in range(3, 9):
        bkt.merge_changes(spark, _clog(spark, _seed(i)), KEYS)
    assert len(bkt.read_manifest()[_DELTAS]) == 8
    jobs, _ = _count_jobs(spark, lambda: bkt._compact(spark, KEYS))
    assert jobs <= 3, "_compact over 8 deltas"
    assert _rows(bkt.read(spark)) == [(k, float(k)) for k in range(32)]


def test_type_change_across_files_widens(spark, tmp_path):
    """A double column later written as bigint reads back as double on
    both stores, before and after compaction — the union of per-schema
    reads widens it, where one read under a merged schema would fail
    the parquet scan."""
    first = _clog(spark, [(1, "I", 1, 1.0), (2, "I", 2, 2.5)])
    second = _clog(spark, [(3, "U", 1, 7)], value_type="bigint")
    want = [(1, 7.0), (2, 2.5)]

    flat = ReplicaStore(str(tmp_path / "flat"))
    flat.merge_changes(spark, first, KEYS)
    flat.merge_changes(spark, second, KEYS)
    got = flat.read(spark)
    assert got.schema["value"].dataType.simpleString() == "double"
    assert _rows(got) == want

    bkt = BucketedReplicaStore(str(tmp_path / "bkt"), n_buckets=4, compact_every=100)
    bkt.merge_changes(spark, first, KEYS)
    bkt.compact(spark)
    bkt.merge_changes(spark, second, KEYS)
    for stage in ("merge-on-read", "compacted"):
        got = bkt.read(spark)
        assert got.schema["value"].dataType.simpleString() == "double", stage
        assert _rows(got) == want, stage
        bkt.compact(spark)


def test_manifest_schemas_cover_live_paths(spark, tmp_path):
    bkt = BucketedReplicaStore(str(tmp_path / "bkt"), n_buckets=4, compact_every=100)
    for i in range(3):
        bkt.merge_changes(spark, _clog(spark, _seed(i)), KEYS)
        bkt.compact(spark)
    bkt.merge_changes(spark, _clog(spark, [(900, "U", 1, 9.0)]), KEYS)
    m = bkt.read_manifest()
    live = {os.path.dirname(p) for k, p in m.items() if not k.startswith("__")}
    # superseded version dirs are pruned from the schema map
    assert set(m[_SCHEMAS]) == live
    assert all("schema" in d for d in m[_DELTAS])


def test_store_without_recorded_schemas_still_reads(spark, tmp_path):
    """Stores written before schemas were recorded have no sidecar and
    no manifest schemas: reads fall back to footer inference — the one
    trigger of that path — and return the same rows."""
    flat = ReplicaStore(str(tmp_path / "flat"))
    flat.merge_changes(spark, _clog(spark, _seed(0)), KEYS)
    flat.merge_changes(spark, _clog(spark, [(100, "U", 3, 33.0), (101, "D", 4, 0.0)]), KEYS)
    expected = _rows(flat.read(spark))
    os.remove(os.path.join(flat.current_path(), _SCHEMA))
    jobs, legacy = _count_jobs(spark, lambda: flat.read(spark))
    assert jobs > 0  # the inference read ran
    assert _rows(legacy) == expected

    bkt = BucketedReplicaStore(str(tmp_path / "bkt"), n_buckets=4, compact_every=100)
    bkt.merge_changes(spark, _clog(spark, _seed(0)), KEYS)
    bkt.compact(spark)
    bkt.merge_changes(spark, _clog(spark, [(100, "U", 3, 33.0)]), KEYS)
    bkt.merge_changes(spark, _clog(spark, [(101, "D", 4, 0.0)]), KEYS)
    expected = _rows(bkt.read(spark))
    m = bkt.read_manifest()
    m.pop(_SCHEMAS)
    for d in m[_DELTAS]:
        d.pop("schema")
    with open(bkt._manifest_path(bkt.current_version()), "w") as f:
        json.dump(m, f)
    jobs, legacy = _count_jobs(spark, lambda: bkt.read(spark))
    assert jobs > 0  # the inference reads ran
    assert _rows(legacy) == expected
    # a legacy store keeps merging and compacting
    bkt.compact(spark)
    assert _rows(bkt.read(spark)) == expected
