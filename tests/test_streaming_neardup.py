"""Cross-batch streaming near-dup: duplicates arriving in LATER
micro-batches are caught against the persisted signature state."""

from __future__ import annotations

import pytest


DOC_A = "the quick brown fox jumps over the lazy dog again and again today"
DOC_B = "completely different content about database replication pipelines and spark"
DOC_C = "a third document discussing minhash signatures and locality sensitive hashing"
DOC_A_NEAR = "the quick brown fox jumps over the lazy dog again and again tonight"


@pytest.fixture
def dedup(spark, tmp_path):
    from clockpipe_spark.streaming.neardup_state import StreamingNearDup

    return StreamingNearDup(spark, str(tmp_path / "nd_state"), threshold=0.5)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_in_later_batch_is_caught(spark, dedup):
    b1 = dedup.process_batch(_df(spark, [(1, DOC_A), (2, DOC_B)]))
    assert {r["doc_id"] for r in b1.collect()} == {1, 2}

    # batch 2: near-copy of doc 1 (one token differs) + genuinely new doc
    b2 = dedup.process_batch(_df(spark, [(3, DOC_A_NEAR), (4, DOC_C)]))
    assert {r["doc_id"] for r in b2.collect()} == {4}

    assert {r["id"] for r in dedup.admitted_ids().collect()} == {1, 2, 4}


def test_intra_batch_duplicate_keeps_lowest_id(spark, dedup):
    out = dedup.process_batch(
        _df(spark, [(10, DOC_A), (11, DOC_A_NEAR), (12, DOC_B)])
    )
    assert {r["doc_id"] for r in out.collect()} == {10, 12}


def test_exact_duplicate_across_three_batches(spark, dedup):
    assert dedup.process_batch(_df(spark, [(1, DOC_A)])).count() == 1
    assert dedup.process_batch(_df(spark, [(2, DOC_B)])).count() == 1
    # exact copy of batch-1 content, two batches later
    assert dedup.process_batch(_df(spark, [(3, DOC_A)])).count() == 0


def test_streaming_foreachbatch_integration(spark, tmp_path):
    """The same filter under a real readStream: one file per micro-batch
    (maxFilesPerTrigger=1), duplicate in the second file is dropped."""
    from clockpipe_spark.streaming.neardup_state import StreamingNearDup

    src = tmp_path / "docs_stream"
    _df(spark, [(1, DOC_A), (2, DOC_B)]).coalesce(1).write.parquet(
        str(src / "f1.parquet")
    )
    _df(spark, [(3, DOC_A_NEAR), (4, DOC_C)]).coalesce(1).write.parquet(
        str(src / "f2.parquet")
    )

    dedup = StreamingNearDup(spark, str(tmp_path / "nd_state2"), threshold=0.5)
    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )

    q = (
        stream.writeStream.foreachBatch(
            lambda batch_df, _id: dedup.process_batch(batch_df).count()
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    admitted = {r["id"] for r in dedup.admitted_ids().collect()}
    assert 3 not in admitted  # near-copy of doc 1, later batch -> dropped
    assert {1, 2, 4} <= admitted


def test_short_docs_route_through_exact_dedup(spark, dedup):
    """Docs with < 3 tokens produce no shingles hence no signature row;
    they route through an exact-hash dedup on lower(trim(text)), whose
    hash is their one band-log key (ADVICE r3: unconditional admission
    re-admitted exact copies of short docs forever)."""
    out = dedup.process_batch(
        _df(spark, [(1, DOC_A), (2, "hi"), (3, "ok then"), (4, "")])
    )
    assert {r["doc_id"] for r in out.collect()} == {1, 2, 3, 4}
    # short docs now carry exact-hash state
    assert {r["id"] for r in dedup.admitted_ids().collect()} == {1, 2, 3, 4}
    # an exact copy (case/whitespace-insensitive) in a later batch is
    # dropped; a genuinely new short doc passes
    out2 = dedup.process_batch(_df(spark, [(5, "hi"), (6, " HI "), (7, "yo")]))
    assert {r["doc_id"] for r in out2.collect()} == {7}


def test_short_doc_intra_batch_keeps_lowest_id(spark, dedup):
    out = dedup.process_batch(_df(spark, [(1, "hi"), (2, "hi"), (3, "yo")]))
    assert {r["doc_id"] for r in out.collect()} == {1, 3}


def test_short_doc_replay_idempotent(spark, dedup):
    batch = _df(spark, [(1, "hi"), (2, DOC_A)])
    assert dedup.process_batch(batch).count() == 2
    n1 = dedup._bands.read().where("band_idx = -1").count()
    # same batch re-delivered: rows re-admitted, state unchanged
    assert dedup.process_batch(batch).count() == 2
    n2 = dedup._bands.read().where("band_idx = -1").count()
    assert n1 == n2 == 1


def test_band_log_probe_prunes_buckets(spark, dedup):
    """LSM band log (r12): batches append LOOSE files (no hive-commit
    cost); compact_bands() folds them into the pmod(band_hash,
    n_band_buckets) hive layout, after which a probe lists only the
    buckets the batch's hashes fall into — plus whatever loose set has
    accumulated since the last compaction (bounded by
    compact_after_files)."""
    from pyspark.sql import functions as F

    from clockpipe_spark.operators.neardup import band_hashes, minhash_signatures

    dedup.process_batch(_df(spark, [(1, DOC_A), (2, DOC_B)]))
    dedup.process_batch(_df(spark, [(3, DOC_C)]))
    # appends are loose until compaction; a dup arriving NOW (state
    # entirely loose) must still be caught
    assert dedup._bands.loose_files()
    assert dedup.process_batch(_df(spark, [(8, DOC_A_NEAR)])).count() == 0
    n_compacted = dedup.compact_bands(force=True)
    assert n_compacted > 0 and not dedup._bands.loose_files()
    all_files = dedup._bands.paths()
    assert all_files and all("band_bucket=" in f for f in all_files)

    probe = _df(spark, [(9, DOC_A_NEAR)])
    bands = band_hashes(
        minhash_signatures(probe, "doc_id", "text", dedup.n_hashes),
        dedup.n_hashes,
        dedup.n_bands,
    )
    buckets = sorted(
        r["b"]
        for r in bands.select(
            F.pmod(F.col("band_hash"), F.lit(dedup.n_band_buckets))
            .cast("int")
            .alias("b")
        )
        .distinct()
        .collect()
    )
    probe_files = dedup._bands.paths(buckets)
    allowed = {f"band_bucket={b}" for b in buckets}
    assert probe_files, "probe of a near-copy must hit its twin's buckets"
    assert all(any(a in f for a in allowed) for f in probe_files)
    # pruning is real: unrelated docs' buckets are not read
    assert len(probe_files) < len(all_files)
    # and the pruned probe still catches the duplicate end-to-end
    assert dedup.process_batch(probe).count() == 0


def test_replay_does_not_duplicate_state(spark, dedup):
    """At-least-once replay: re-processing the same batch must neither
    re-append state rows nor self-match previously admitted docs."""
    batch = _df(spark, [(1, DOC_A), (2, DOC_B)])
    assert dedup.process_batch(batch).count() == 2
    n_state = dedup._sigs.read().count()
    # replay the identical batch: rows re-admitted (downstream dedups by
    # id), but state row count is unchanged
    assert dedup.process_batch(batch).count() == 2
    n_state2 = dedup._sigs.read().count()
    assert n_state2 == n_state == 2
    assert sorted(r["id"] for r in dedup.admitted_ids().collect()) == [1, 2]


def test_crash_between_bands_and_sigs_heals_on_replay(spark, dedup):
    """Commit-ordering crash window (ADVICE r12 #1): the sigs append is
    the batch's commit marker and is written LAST, so the only possible
    partial state after a crash is bands present + sigs absent.
    A replay of that window must re-derive the full admitted set (the
    sig-history anti-join sees no marker), re-append bands (duplicates
    absorbed by the candidate join), and land the sigs — after which
    near-dup detection against those docs works. Before the r13
    ordering fix the opposite window (sigs present, bands absent) was
    reachable and UNHEALABLE: replay derived an empty admitted set and
    the band rows were lost forever."""
    import os
    import shutil

    batch = _df(spark, [(1, DOC_A), (2, DOC_B)])
    assert dedup.process_batch(batch).count() == 2
    # simulate the crash window: bands committed, sigs (the marker) not
    shutil.rmtree(dedup.sigs_dir)
    assert not os.path.isdir(dedup.sigs_dir)
    band_rows_partial = dedup._bands.read().count()
    assert band_rows_partial > 0

    # at-least-once replay of the same batch
    assert dedup.process_batch(batch).count() == 2
    # the marker is restored…
    sig_ids = {r["id"] for r in dedup._sigs.read().collect()}
    assert sig_ids == {1, 2}
    # …and near-dup detection against the healed state works end-to-end
    assert dedup.process_batch(_df(spark, [(3, DOC_A_NEAR)])).count() == 0


def test_torn_metrics_file_is_invisible_to_readers(spark, tmp_path):
    """ADVICE r12 #2: the driver-side pyarrow metrics write goes to a
    dot-prefixed .inprogress temp and renames into place, so a torn
    half-file from a crash mid-write is never picked up by metrics()
    (the reader lists only *.parquet)."""
    from clockpipe_spark.streaming.corpus_ingest import CorpusIngestPipeline

    pipe = CorpusIngestPipeline(spark, str(tmp_path / "ingest"), threshold=0.5)
    pipe._write_metrics(0, 10, 8, 7)
    # simulate a crash mid-write: a torn .inprogress file left behind
    import os

    os.makedirs(pipe.metrics_dir, exist_ok=True)
    torn = os.path.join(
        pipe.metrics_dir, ".metrics-1-deadbeef.parquet.inprogress"
    )
    with open(torn, "wb") as f:
        f.write(b"PAR1\x00torn")
    m = pipe.metrics().collect()
    assert len(m) == 1 and m[0]["n_admitted"] == 7
    # and no stray non-temp garbage was created by the writer itself
    finals = [
        n for n in os.listdir(pipe.metrics_dir) if n.endswith(".parquet")
    ]
    assert len(finals) == 1


def test_sig_cache_registry_is_bounded(spark):
    """ADVICE r12 #3: _SIG_CACHES must not grow without bound in
    long-lived processes. Registration dedupes by semanticHash (repeat
    executions of the same workload occupy ONE slot — evicting them by
    count would unpersist the shared JVM cache entry mid-suite), and a
    backstop cap FIFO-evicts REGISTRY SLOTS ONLY past it (ADVICE r13
    #4: an unpersist at the cap could yank a shared cache entry another
    live workload still reuses — reclaim is release_signature_caches()
    / clearCache(), not eviction)."""
    from clockpipe_spark.operators import neardup as nd

    nd.release_signature_caches()
    # repeat registrations of the same workload: one slot, not N
    df = spark.range(7).cache()
    for _ in range(5):
        nd._register_sig_cache(df)
    assert len(nd._SIG_CACHES) == 1
    # a semantically identical but distinct object also dedupes
    nd._register_sig_cache(spark.range(7).cache())
    assert len(nd._SIG_CACHES) == 1
    # distinct workloads accumulate up to the backstop cap, then the
    # oldest loses its registry slot — but stays cached (no unpersist:
    # the shared JVM entry may still be hot in another workload)
    frames = [spark.range(10 + i).cache() for i in range(nd._SIG_CACHE_CAP + 2)]
    for f in frames:
        nd._register_sig_cache(f)
    assert len(nd._SIG_CACHES) == nd._SIG_CACHE_CAP
    assert df.storageLevel.useMemory is True  # evicted slot, cache kept
    assert frames[-1] in nd._SIG_CACHES.values()
    assert nd.release_signature_caches() == nd._SIG_CACHE_CAP
    assert nd._SIG_CACHES == {}
    df.unpersist()
    for f in frames:
        f.unpersist()


def test_inflight_task_output_invisible_to_state_readers(spark, dedup, tmp_path):
    """A crashed Spark write leaves partial part files under _temporary
    attempt dirs; Spark's directory reader skips them, so the explicit
    file lists the state layer builds must skip them too (r13) — or a
    post-crash replay reads torn/duplicate band rows."""
    import os

    from clockpipe_spark.streaming.neardup_state import parquet_files

    batch = _df(spark, [(1, DOC_A), (2, DOC_B)])
    assert dedup.process_batch(batch).count() == 2

    # plant garbage where a crashed task attempt would leave it
    tdir = os.path.join(
        dedup.bands_dir, "_temporary", "0", "task_001", "attempt_0"
    )
    os.makedirs(tdir)
    with open(os.path.join(tdir, "part-00000.snappy.parquet"), "wb") as f:
        f.write(b"PAR1 torn garbage")
    with open(os.path.join(dedup.bands_dir, ".part-crc.parquet"), "wb") as f:
        f.write(b"not parquet either")

    assert all("_temporary" not in p for p in parquet_files(dedup.bands_dir))
    # and the probe path still works end-to-end over the polluted dir
    assert dedup.process_batch(_df(spark, [(3, DOC_A_NEAR)])).count() == 0


def test_pruned_verify_path_matches_lazy_path(spark, tmp_path, monkeypatch):
    """The size-gated verify-join pruning (r13) must be semantics-
    preserving: with a 0-byte gate (pruned path forced at any state
    size) the filter admits exactly what the lazy path admits, across
    batches, replay included."""
    from clockpipe_spark.streaming import neardup_state
    from clockpipe_spark.streaming.neardup_state import StreamingNearDup

    results = {}
    for tag, gate in (("lazy", 1 << 60), ("pruned", 0)):
        monkeypatch.setattr(neardup_state, "PRUNE_VERIFY_BYTES", gate)
        nd = StreamingNearDup(spark, str(tmp_path / f"nd_{tag}"), threshold=0.5)
        nd.process_batch(_df(spark, [(1, DOC_A), (2, DOC_B)]))
        # compact so the pruned path actually reads sig_bucket=K dirs
        nd.compact_sigs(force=True)
        nd.compact_bands(force=True)
        out2 = nd.process_batch(_df(spark, [(3, DOC_A_NEAR), (4, DOC_C)]))
        results[tag] = {
            "batch2": sorted(r["doc_id"] for r in out2.collect()),
            "admitted": sorted(r["id"] for r in nd.admitted_ids().collect()),
            # replay of batch 2 must stay idempotent on the pruned path
            "replay": nd.process_batch(
                _df(spark, [(3, DOC_A_NEAR), (4, DOC_C)])
            ).count(),
            "state_rows": nd._sigs.read().count(),
        }
    assert results["pruned"] == results["lazy"]
    assert results["lazy"]["batch2"] == [4]
    assert results["lazy"]["admitted"] == [1, 2, 4]


def test_layout_bucket_counts_are_pinned(spark, tmp_path):
    """Bucket ids are baked into hive dir names — reopening a store
    with different bucket counts would prune probes to dirs the old
    layout never wrote and silently miss duplicates (r13). The layout
    file makes that a loud constructor error."""
    from clockpipe_spark.streaming.neardup_state import StreamingNearDup

    root = str(tmp_path / "pinned")
    nd = StreamingNearDup(spark, root, n_band_buckets=64)
    nd.process_batch(_df(spark, [(1, DOC_A)]))
    # same counts: reopens fine and still dedups
    nd2 = StreamingNearDup(spark, root, n_band_buckets=64)
    assert nd2.process_batch(_df(spark, [(2, DOC_A_NEAR)])).count() == 0
    # different counts: refused loudly
    with pytest.raises(ValueError, match="layout mismatch"):
        StreamingNearDup(spark, root, n_band_buckets=4096)


def test_resize_buckets_migrates_layout(spark, tmp_path):
    """resize_buckets() is the sanctioned path for growing bucket
    counts as the corpus grows: full rewrite under the new dirs, loud
    marker on interruption, dedup semantics preserved across the
    migration."""
    import os

    from clockpipe_spark.streaming.neardup_state import StreamingNearDup, parquet_files

    root = str(tmp_path / "resize")
    nd = StreamingNearDup(spark, root, n_band_buckets=64)
    nd.process_batch(_df(spark, [(1, DOC_A), (2, DOC_B)]))
    nd.compact_bands(force=True)
    nd.compact_sigs(force=True)
    nd.resize_buckets(n_band_buckets=256, n_sig_buckets=128)

    # layout migrated: new-bucket dirs exist, old counts refused,
    # new counts reopen cleanly
    assert any("band_bucket=" in f for f in parquet_files(nd.bands_dir))
    with pytest.raises(ValueError, match="layout mismatch"):
        StreamingNearDup(spark, root, n_band_buckets=64)
    nd2 = StreamingNearDup(
        spark, root, n_band_buckets=256, n_sig_buckets=128
    )
    # dedup still catches history near-dups through the migrated state
    assert nd2.process_batch(_df(spark, [(3, DOC_A_NEAR)])).count() == 0
    assert sorted(r["id"] for r in nd2.admitted_ids().collect()) == [1, 2]

    # interrupted resize: marker present -> constructor refuses loudly
    open(os.path.join(root, "_layout.json.resizing"), "w").write("{}")
    with pytest.raises(ValueError, match="interrupted resize"):
        StreamingNearDup(spark, root, n_band_buckets=256, n_sig_buckets=128)


def test_resize_crash_mid_swap_recovers(spark, tmp_path):
    """ADVICE r13 #1: a resize that dies between rename(log_dir, old)
    and rename(staged, log_dir) leaves the log dir ABSENT with all
    history parked in .old. The documented recovery (remove marker,
    re-run resize_buckets) must restore that history — not hit the
    empty-log early return, 'succeed', and orphan it (silent duplicate
    misses)."""
    import os
    import shutil

    from clockpipe_spark.streaming.neardup_state import StreamingNearDup

    root = str(tmp_path / "crash_swap")
    nd = StreamingNearDup(spark, root, n_band_buckets=64)
    nd.process_batch(_df(spark, [(1, DOC_A), (2, DOC_B)]))
    nd.compact_bands(force=True)
    nd.compact_sigs(force=True)

    # Simulate the crash window for BOTH logs: marker written, each
    # log renamed away to .old, staged copy present, process dies.
    open(os.path.join(root, "_layout.json.resizing"), "w").write(
        '{"n_band_buckets": 256, "n_sig_buckets": 128}'
    )
    for d in (nd.bands_dir, nd.sigs_dir):
        shutil.copytree(d, d + ".resize")  # stand-in for the staged write
        os.rename(d, d + ".old")

    # Documented recovery: remove the marker, reopen with OLD counts,
    # re-run the resize to completion.
    os.remove(os.path.join(root, "_layout.json.resizing"))
    nd2 = StreamingNearDup(spark, root, n_band_buckets=64)
    nd2.resize_buckets(n_band_buckets=256, n_sig_buckets=128)

    # History survived: the migrated store still near-dups against it,
    # and no orphan dirs remain.
    nd3 = StreamingNearDup(spark, root, n_band_buckets=256, n_sig_buckets=128)
    assert nd3.process_batch(_df(spark, [(3, DOC_A_NEAR)])).count() == 0
    assert sorted(r["id"] for r in nd3.admitted_ids().collect()) == [1, 2]
    for d in (nd3.bands_dir, nd3.sigs_dir):
        assert not os.path.exists(d + ".old")
        assert not os.path.exists(d + ".resize")


def test_pin_refuses_bucketed_store_without_layout(spark, tmp_path):
    """ADVICE r13 #2: upgrading a pre-layout-pin store (bucketed dirs,
    no _layout.json) must not silently adopt the constructor's counts —
    the dirs' true counts are unknowable, and a wrong pin misses
    duplicates. Loose-only stores (no bucketed dirs yet) pin safely."""
    import os

    from clockpipe_spark.streaming.neardup_state import StreamingNearDup

    root = str(tmp_path / "upgrade")
    nd = StreamingNearDup(spark, root, n_band_buckets=64)
    nd.process_batch(_df(spark, [(1, DOC_A)]))

    # loose-only store without a layout file: pinning is safe (probes
    # always read loose files unpruned; compaction recomputes buckets)
    os.remove(os.path.join(root, "_layout.json"))
    nd2 = StreamingNearDup(spark, root, n_band_buckets=64)
    assert nd2.process_batch(_df(spark, [(2, DOC_A_NEAR)])).count() == 0

    # bucketed store without a layout file: refused loudly, for ANY
    # constructor counts — even ones that happen to match
    nd2.compact_bands(force=True)
    nd2.compact_sigs(force=True)
    os.remove(os.path.join(root, "_layout.json"))
    for counts in (4096, 64):
        with pytest.raises(ValueError, match="no _layout.json"):
            StreamingNearDup(spark, root, n_band_buckets=counts)


def test_store_with_shorts_log_is_refused(spark, tmp_path):
    """Short docs live in the band and sig logs; a store from the layout
    that kept them in a separate ``shorts/`` log is refused at open
    rather than read without it (its short docs would be re-admitted)."""
    import os

    from clockpipe_spark.streaming.neardup_state import StreamingNearDup

    root = str(tmp_path / "old")
    StreamingNearDup(spark, root).process_batch(_df(spark, [(1, DOC_A)]))
    # an empty shorts dir holds no state: still opens
    os.makedirs(os.path.join(root, "shorts"))
    StreamingNearDup(spark, root)
    spark.createDataFrame([(2, 7)], "id long, text_hash long").write.mode(
        "append"
    ).parquet(os.path.join(root, "shorts"))
    with pytest.raises(ValueError, match="shorts/ log"):
        StreamingNearDup(spark, root)


def test_state_read_paths_do_not_grow_with_compactions(spark, tmp_path, monkeypatch):
    """A state read passes one path per bucket dir plus the loose files,
    so the paths one batch hands to Spark stay the same while every
    compaction adds a file per bucket."""
    import random

    from pyspark.sql.readwriter import DataFrameReader
    from test_commit_faults import _long_doc, _near

    from clockpipe_spark.streaming.neardup_state import StreamingNearDup, parquet_files

    nd = StreamingNearDup(
        spark, str(tmp_path / "nd"), threshold=0.5, n_band_buckets=4, n_sig_buckets=4
    )
    rng = random.Random(5)
    docs = [_long_doc(rng) for _ in range(12)]
    passed: list[int] = []
    real = DataFrameReader.parquet

    def spy(reader, *paths, **kwargs):
        passed.append(len(paths))
        return real(reader, *paths, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    seen, files = {}, {}
    for n in (1, 2, 3):
        ids = range(4 * n, 4 * n + 4)
        nd.process_batch(_df(spark, [(i, docs[i - 4]) for i in ids]))
        assert nd.compact_bands(force=True) and nd.compact_sigs(force=True)
        passed.clear()
        assert nd.process_batch(_df(spark, [(100, _near(docs[0]))])).count() == 0
        seen[n] = sorted(passed)
        files[n] = len(parquet_files(nd.bands_dir)) + len(parquet_files(nd.sigs_dir))
    assert seen[1] == seen[3] and max(seen[3]) <= 4
    assert files[3] > files[1]
