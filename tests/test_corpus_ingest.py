"""End-to-end streaming corpus ingest: quality gate + cross-batch dedup
+ append-only corpus + per-batch metrics."""

from __future__ import annotations

import pytest

from clockpipe_spark.streaming.corpus_ingest import (
    CorpusIngestPipeline,
    c4_quality_gate,
)

# 60 common lowercase words: passes every C4 check (word count >= 50,
# mean word length in [3, 10], all-alphabetic)
_WORDS = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong coffee beside the river bank and watch clouds drift "
    "past tall mountains where eagles soar above green valleys full of "
    "wild flowers that bloom bright under warm spring sunshine every "
    "single morning before the village wakes and children walk slowly "
    "toward their old school building near the market square"
)
assert len(_WORDS.split()) >= 50

_NEAR = _WORDS.replace("coffee", "cocoa")  # one-token near-duplicate
_SHORT = "too short"  # gated out by word count
_BRACED = _WORDS + " {template}"  # gated out by curly brace


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture
def pipe(spark, tmp_path):
    return CorpusIngestPipeline(spark, str(tmp_path / "ingest"), threshold=0.5)


def test_gate_matches_c4_query_keepset(spark, sf_dir):
    """The streaming gate and the batch query compute the same keep set —
    pinned so the two C4 implementations cannot drift apart."""
    from clockpipe_spark.catalog import load_table
    from clockpipe_spark.queries.textops2 import text_c4_filters

    docs = load_table(spark, sf_dir, "documents")
    gated = {r["doc_id"] for r in c4_quality_gate(docs).select("doc_id").collect()}
    query_keep = {
        r["doc_id"]
        for r in text_c4_filters(spark, sf_dir).filter("keep").collect()
    }
    assert gated == query_keep


def test_gate_then_dedup_then_metrics(spark, pipe):
    b1 = pipe.process_batch(
        _df(spark, [(1, _WORDS), (2, _SHORT), (3, _BRACED)]), batch_id=0
    )
    assert {r["doc_id"] for r in b1.collect()} == {1}

    # batch 2: near-copy of admitted doc 1 -> deduped; fresh doc admitted
    fresh = (
        "ancient sailors crossed vast oceans guided only by constellations "
        "and trade winds while their wooden vessels carried spices silk and "
        "copper between distant harbors merchants recorded every exchange "
        "on clay tablets that scribes stored inside temple archives where "
        "scholars later studied them to understand how early commerce "
        "shaped language mathematics and the first written laws of many "
        "civilizations across continents through countless generations"
    )
    assert len(fresh.split()) >= 50
    b2 = pipe.process_batch(_df(spark, [(4, _NEAR), (5, fresh)]), batch_id=1)
    assert {r["doc_id"] for r in b2.collect()} == {5}

    corpus_ids = {r["doc_id"] for r in pipe.corpus("doc_id long, text string").collect()}
    assert corpus_ids == {1, 5}

    m = {r["batch_id"]: r for r in pipe.metrics().collect()}
    assert (m[0]["n_arrived"], m[0]["n_gated"], m[0]["n_admitted"]) == (3, 1, 1)
    assert (m[1]["n_arrived"], m[1]["n_gated"], m[1]["n_admitted"]) == (2, 2, 1)


def test_replay_is_idempotent(spark, pipe):
    batch = _df(spark, [(1, _WORDS)])
    assert pipe.process_batch(batch, batch_id=0).count() == 1
    n_corpus = pipe.corpus("doc_id long, text string").count()
    # re-delivered batch (at-least-once): rows re-admitted downstream-
    # visibly, but corpus and dedup state append nothing new
    pipe.process_batch(batch, batch_id=0)
    assert pipe.corpus("doc_id long, text string").count() == n_corpus == 1
    assert pipe.neardup.admitted_ids().count() == 1


def test_foreachbatch_under_readstream(spark, tmp_path):
    """The full pipeline driven by a real readStream, one file per
    micro-batch: gated doc dropped, cross-batch near-dup dropped."""
    src = tmp_path / "stream_src"
    _df(spark, [(1, _WORDS), (2, _SHORT)]).coalesce(1).write.parquet(
        str(src / "f1.parquet")
    )
    _df(spark, [(3, _NEAR)]).coalesce(1).write.parquet(str(src / "f2.parquet"))

    pipe = CorpusIngestPipeline(spark, str(tmp_path / "ingest2"), threshold=0.5)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    q = (
        stream.writeStream.foreachBatch(pipe.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    corpus_ids = {r["doc_id"] for r in pipe.corpus("doc_id long, text string").collect()}
    assert corpus_ids == {1}
    assert pipe.metrics().count() >= 2


def test_crash_before_corpus_write_heals_on_replay(spark, pipe):
    """Crash window 1 of the r13 corpus commit protocol: the driver dies
    after the dedup layer's band append but BEFORE the corpus write
    (pre_commit raises here to simulate it). The state marker (sigs) is
    never written, so the replay recomputes the same admitted set and
    the corpus write lands in full."""

    class Boom(RuntimeError):
        pass

    def exploding(_df):
        raise Boom()

    batch = _df(spark, [(1, _WORDS)])
    gated = c4_quality_gate(batch)
    with pytest.raises(Boom):
        pipe.neardup.process_batch(gated, "doc_id", "text", pre_commit=exploding)
    # the crash left band rows but no marker and no corpus rows
    assert pipe.neardup.admitted_ids().count() == 0
    assert pipe.corpus("doc_id long, text string").count() == 0

    # at-least-once replay of the same batch through the full pipeline
    assert pipe.process_batch(batch, batch_id=0).count() == 1
    assert {
        r["doc_id"] for r in pipe.corpus("doc_id long, text string").collect()
    } == {1}
    assert pipe.neardup.admitted_ids().count() == 1


def test_crash_after_corpus_before_state_marker_heals(spark, pipe, tmp_path):
    """Crash window 2: the corpus batch directory committed (_SUCCESS
    present) but the state marker didn't land. The replay must SKIP the
    corpus write (no duplicate, no empty-overwrite wipe — the old code's
    unhealable loss window) and re-commit the state."""
    import shutil

    batch = _df(spark, [(1, _WORDS)])
    assert pipe.process_batch(batch, batch_id=0).count() == 1
    # simulate losing the state commit AFTER the corpus landed
    shutil.rmtree(pipe.neardup.sigs_dir)
    assert pipe.neardup.admitted_ids().count() == 0
    n_corpus = pipe.corpus("doc_id long, text string").count()
    assert n_corpus == 1

    # replay: corpus untouched (exactly-once content), state healed
    assert pipe.process_batch(batch, batch_id=0).count() == 1
    assert pipe.corpus("doc_id long, text string").count() == 1
    assert pipe.neardup.admitted_ids().count() == 1
    # and near-dup detection works against the healed state
    assert pipe.process_batch(_df(spark, [(2, _NEAR)]), batch_id=1).count() == 0


def test_batch_dirs_accumulate_and_cross_batch_redelivery_filtered(spark, pipe):
    """Distinct batch ids write distinct directories; a doc id
    redelivered in a LATER batch does not enter the corpus twice."""
    import os

    b0 = _df(spark, [(1, _WORDS)])
    other = (
        "galaxies rotate slowly around their dense luminous cores while "
        "astronomers measure redshift spectra through giant telescope "
        "arrays placed on remote desert plateaus where atmospheric "
        "interference stays minimal during long winter observation "
        "campaigns and patient researchers catalog thousands of distant "
        "stellar objects whose ancient light began traveling toward our "
        "small blue planet before complex life emerged from shallow seas"
    )
    assert len(other.split()) >= 50
    b1 = _df(spark, [(1, _WORDS), (2, other)])  # doc 1 redelivered
    pipe.process_batch(b0, batch_id=0)
    pipe.process_batch(b1, batch_id=1)
    assert os.path.exists(os.path.join(pipe.corpus_dir, "batch=0", "_SUCCESS"))
    assert os.path.exists(os.path.join(pipe.corpus_dir, "batch=1", "_SUCCESS"))
    rows = pipe.corpus("doc_id long, text string").collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2]


def test_all_gated_batch_records_metrics_and_replays(spark, pipe, tmp_path):
    """A batch whose every doc fails the quality gate admits nothing and
    records (arrived, 0, 0) — also when replayed under the same batch_id.
    Read from parquet, as a file or streaming source delivers it (a
    literal in-memory frame lets the optimizer evaluate the gate at plan
    time)."""
    path = str(tmp_path / "gated_batch")
    _df(spark, [(1, _SHORT), (2, _BRACED), (3, "hi")]).write.parquet(path)
    batch = spark.read.schema("doc_id long, text string").parquet(path)
    for _ in range(2):
        assert pipe.process_batch(batch, batch_id=0).count() == 0
    rows = [
        (r["batch_id"], r["n_arrived"], r["n_gated"], r["n_admitted"])
        for r in pipe.metrics().collect()
    ]
    assert rows == [(0, 3, 0, 0), (0, 3, 0, 0)]
    assert pipe.corpus("doc_id long, text string").count() == 0
    assert pipe.neardup.admitted_ids().count() == 0
