"""Bucketed replica store: merge correctness == flat store through both
the merge-on-read append path and compaction, and compaction rewrites
only touched buckets."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from clockpipe_spark.cdc.changelog import changelog_from_events
from clockpipe_spark.cdc.ops import replica_state
from clockpipe_spark.catalog import load_table
from clockpipe_spark.streaming.bucketed_replica import _DELTAS, BucketedReplicaStore


def _clog(spark, rows):
    return spark.createDataFrame(
        rows, "seq long, op string, user_id long, value double"
    )


def _final_view(store, spark):
    return {
        r["user_id"]: (r["last_seq"], round(r["value"], 6))
        for r in store.read(spark).collect()
    }


def test_bucketed_matches_final_view(spark, sf_dir, tmp_path):
    clog = changelog_from_events(load_table(spark, sf_dir, "events")).select(
        "seq", "op", "user_id", "value"
    )
    expected = {
        r["user_id"]: (r["seq"], round(r["value"], 6))
        for r in replica_state(clog, ["user_id"]).collect()
    }
    batches = [(0, 300), (300, 700), (700, 10_000_000)]
    # compact_every=2 compacts after the second batch; 8 reads all three
    # batches merge-on-read from the delta log
    for compact_every in (2, 8):
        store = BucketedReplicaStore(
            str(tmp_path / f"b_{compact_every}"), n_buckets=8, compact_every=compact_every
        )
        for lo, hi in batches:
            store.merge_changes(
                spark,
                clog.filter((F.col("seq") >= lo) & (F.col("seq") < hi)),
                ["user_id"],
            )
        assert _final_view(store, spark) == expected, compact_every
        # explicit compaction folds deltas without changing the view
        store.compact(spark)
        assert store.read_manifest().get(_DELTAS, []) == []
        assert _final_view(store, spark) == expected, f"{compact_every} post-compact"


def test_append_leaves_base_untouched(spark, tmp_path):
    store = BucketedReplicaStore(str(tmp_path / "b1"), n_buckets=8, compact_every=100)
    seed = _clog(spark, [(i, "I", i, float(i)) for i in range(64)])
    store.merge_changes(spark, seed, ["user_id"])
    store.compact(spark)
    m1 = store.read_manifest()
    # MOR append: base bucket paths unchanged, one delta recorded
    store.merge_changes(spark, _clog(spark, [(100, "U", 7, 700.0)]), ["user_id"])
    m2 = store.read_manifest()
    assert all(m1[b] == m2[b] for b in m1 if b != _DELTAS and not b.startswith("__"))
    deltas = m2[_DELTAS]
    assert len(deltas) == 1 and len(deltas[0]["buckets"]) == 1
    got = {r["user_id"]: r["value"] for r in store.read(spark).collect()}
    assert got[7] == 700.0 and got[6] == 6.0


def test_compaction_rewrites_only_touched_buckets(spark, tmp_path):
    store = BucketedReplicaStore(str(tmp_path / "b2"), n_buckets=8, compact_every=100)
    seed = _clog(spark, [(i, "I", i, float(i)) for i in range(64)])
    store.merge_changes(spark, seed, ["user_id"])
    store.compact(spark)
    m1 = store.read_manifest()
    # update ONE key -> compaction must change exactly one bucket path
    store.merge_changes(spark, _clog(spark, [(100, "U", 7, 700.0)]), ["user_id"])
    store.compact(spark)
    m2 = store.read_manifest()
    data_buckets = [b for b in m1 if not b.startswith("__")]
    changed = [b for b in data_buckets if m1[b] != m2.get(b)]
    assert len(changed) == 1
    # untouched buckets literally reuse the old files
    assert all(m1[b] == m2[b] for b in data_buckets if b not in changed)
    got = {r["user_id"]: r["value"] for r in store.read(spark).collect()}
    assert got[7] == 700.0 and got[6] == 6.0


def test_rewrite_fraction_scales_with_bucket_count(spark, tmp_path):
    """The mechanism behind bench.py's r11 state10x bucket sweep
    (VERDICT r9 directive #7): for a FIXED churn of k distinct keys,
    compaction rewrites at most k of N buckets — so the rewritten
    FRACTION of state shrinks as N grows (until every bucket is
    touched, past which more buckets only add file count). Pinned at
    three bucket counts on identical churn."""
    churn = [(100 + j, "U", j * 7, 7000.0 + j) for j in range(4)]  # 4 keys
    fractions = {}
    for n in (4, 8, 16):
        store = BucketedReplicaStore(
            str(tmp_path / f"sw_{n}"), n_buckets=n, compact_every=100
        )
        seed = _clog(spark, [(i, "I", i * 7, float(i)) for i in range(32)])
        store.merge_changes(spark, seed, ["user_id"])
        store.compact(spark)
        m1 = store.read_manifest()
        store.merge_changes(spark, _clog(spark, churn), ["user_id"])
        store.compact(spark)
        m2 = store.read_manifest()
        data = [b for b in m1 if not b.startswith("__")]
        changed = [b for b in data if m1[b] != m2.get(b)]
        assert 1 <= len(changed) <= len(churn)
        fractions[n] = len(changed) / n
        # untouched buckets reuse their files at every N
        assert all(m1[b] == m2[b] for b in data if b not in changed)
    # the rewritten fraction must not grow with N, and must strictly
    # shrink from the smallest to the largest swept count
    assert fractions[4] >= fractions[8] >= fractions[16]
    assert fractions[16] < fractions[4]


def test_auto_compaction_threshold(spark, tmp_path):
    store = BucketedReplicaStore(str(tmp_path / "b3"), n_buckets=4, compact_every=3)
    for i in range(3):
        store.merge_changes(
            spark, _clog(spark, [(i, "I", i, float(i))]), ["user_id"]
        )
    # third append hits compact_every -> delta log folded into base
    m = store.read_manifest()
    assert m.get(_DELTAS, []) == []
    assert {r["user_id"] for r in store.read(spark).collect()} == {0, 1, 2}
    # delta files from before compaction survive for older readers
    assert any(f.startswith("d_") for f in os.listdir(store.root))


def test_bucketed_delete_and_replay(spark, tmp_path):
    # fold each batch into the base, or keep every batch in the delta log
    for fold in (True, False):
        store = BucketedReplicaStore(
            str(tmp_path / f"b4_{fold}"), n_buckets=4, compact_every=100
        )

        def merge(rows):
            store.merge_changes(spark, _clog(spark, rows), ["user_id"])
            if fold:
                store.compact(spark)

        merge([(1, "I", 1, 1.0), (2, "I", 2, 2.0)])
        merge([(3, "D", 1, 0.0)])
        assert {r["user_id"] for r in store.read(spark).collect()} == {2}, fold
        # replay an OLD pre-delete insert: tombstone must win
        merge([(1, "I", 1, 1.0)])
        assert {r["user_id"] for r in store.read(spark).collect()} == {2}, fold
        # and still after folding everything into the base
        store.compact(spark)
        assert {r["user_id"] for r in store.read(spark).collect()} == {2}, fold


def test_snapshot_then_mor_appends(spark, tmp_path):
    store = BucketedReplicaStore(str(tmp_path / "b5"), n_buckets=8, compact_every=100)
    snap = spark.range(100).select(
        F.col("id").alias("user_id"),
        (F.col("id") * 1.0).alias("value"),
        F.lit(-1).cast("bigint").alias("last_seq"),
        F.lit(False).alias("__deleted"),
    )
    store.write_snapshot(snap, ["user_id"])
    store.merge_changes(spark, _clog(spark, [(5, "U", 3, 33.0), (6, "D", 4, 0.0)]),
                        ["user_id"])
    got = {r["user_id"]: r["value"] for r in store.read(spark).collect()}
    assert len(got) == 99 and got[3] == 33.0 and 4 not in got
    store.compact(spark)
    got2 = {r["user_id"]: r["value"] for r in store.read(spark).collect()}
    assert got2 == got


def test_schema_evolution_through_deltas(spark, tmp_path):
    """K5 through the MOR path: a delta carrying a NEW column unions
    losslessly with the old base (NULL-filled), and compaction folds it
    into the rewritten buckets."""
    store = BucketedReplicaStore(str(tmp_path / "b6"), n_buckets=4, compact_every=100)
    store.merge_changes(
        spark, _clog(spark, [(1, "I", 1, 1.0), (2, "I", 2, 2.0)]), ["user_id"]
    )
    store.compact(spark)
    widened = spark.createDataFrame(
        [(3, "U", 1, 10.0, "eu")],
        "seq long, op string, user_id long, value double, region string",
    )
    store.merge_changes(spark, widened, ["user_id"])  # MOR append
    got = {r["user_id"]: (r["value"], r["region"])
           for r in store.read(spark).collect()}
    assert got == {1: (10.0, "eu"), 2: (2.0, None)}
    store.compact(spark)
    got2 = {r["user_id"]: (r["value"], r["region"])
            for r in store.read(spark).collect()}
    assert got2 == got


def test_empty_batches_do_not_grow_delta_log(spark, tmp_path):
    """ADVICE r4: empty batches must neither accumulate delta entries nor
    trap auto mode in a compact-every-merge loop."""
    store = BucketedReplicaStore(str(tmp_path / "b_empty"), n_buckets=8, compact_every=2)
    seed = _clog(spark, [(i, "I", i, float(i)) for i in range(16)])
    store.merge_changes(spark, seed, ["user_id"])
    store.compact(spark)
    expected = _final_view(store, spark)
    empty = _clog(spark, []).limit(0)
    for _ in range(5):  # well past compact_every
        store.merge_changes(spark, empty, ["user_id"])
    assert store.read_manifest().get(_DELTAS, []) == []
    assert _final_view(store, spark) == expected
    # a real batch afterwards still lands
    store.merge_changes(spark, _clog(spark, [(100, "I", 1, 9.0)]), ["user_id"])
    assert _final_view(store, spark)[1] == (100, 9.0)
