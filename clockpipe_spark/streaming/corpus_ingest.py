"""Streaming corpus ingestion: the LLM-data hygiene pipeline composed
into a foreachBatch-compatible operator — quality gate, then cross-batch
near-dup + exact dedup against persisted state, then an append-only
admitted corpus plus a per-batch metrics log.

The reference's sync loop is the shape (peek -> transform -> write ->
advance, pipes/postgres.rs:260-517); this applies the same lifecycle to
corpus construction: every micro-batch is gated and deduplicated against
EVERYTHING already admitted, and the state appends are idempotent under
at-least-once replay (the same property the reference gets from
ReplacingMergeTree, SURVEY.md §2.7 T2).

100 TB design:
- the quality gate is a map-side projection (scan speed, no shuffle);
- dedup state/probing is StreamingNearDup's bucketed band log — the
  per-batch probe reads only the state buckets the batch hashes into;
- the admitted corpus and metrics logs are blind appends — no rewrite
  of history on any path;
- per-batch metrics (arrived / gated / deduped / admitted) are the
  observability a production ingest needs to detect drift: a quality
  crash or dup storm shows up as a metrics step-change, not a silent
  corpus skew.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clockpipe_spark.operators.neardup import tokens_sql
from clockpipe_spark.streaming.neardup_state import (
    StreamingNearDup,
    empty_df,
    parquet_files,
)

_METRICS_SCHEMA = (
    "batch_id long, n_arrived long, n_gated long, n_admitted long"
)


def c4_quality_gate(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The combined C4/Gopher keep bit as a streaming gate: word count in
    [50, 100k], mean word length in [3, 10], >=80% alphabetic tokens, no
    curly braces, no 'lorem ipsum'. Thresholds and floor-scaled ratio
    arithmetic mirror queries/textops2.text_c4_filters exactly
    (tests/test_corpus_ingest.py pins gate == query keep-set, so the two
    cannot drift apart silently)."""
    # one SQL parse per expression instead of a py4j round trip per
    # Column operator: this plan is rebuilt every micro-batch
    text = f"`{text_col}`"
    with_toks = docs.withColumn("__toks", F.expr(tokens_sql(text_col)))
    n_words = "size(__toks)"
    sum_len = "aggregate(__toks, CAST(0 AS BIGINT), (a, x) -> a + length(x))"
    alpha = "size(filter(__toks, x -> x RLIKE '[a-z]'))"
    mean_x100 = f"CASE WHEN {n_words} > 0 THEN floor({sum_len} * 100 / {n_words}) ELSE 0 END"
    alpha_x100 = f"CASE WHEN {n_words} > 0 THEN floor({alpha} * 100 / {n_words}) ELSE 0 END"
    keep = (
        f"{n_words} >= 50 AND {n_words} <= 100000"
        f" AND {mean_x100} >= 300 AND {mean_x100} <= 1000"
        f" AND {alpha_x100} >= 80"
        f" AND NOT contains({text}, '{{') AND NOT contains(lower({text}), 'lorem ipsum')"
    )
    return with_toks.where(keep).drop("__toks")


class CorpusIngestPipeline:
    """foreachBatch-compatible end-to-end corpus ingest.

    The gate is the C4 battery (``c4_quality_gate``); dedup is
    StreamingNearDup (near-dup via persisted MinHash bands; exact dedup
    for short docs). Admitted rows of batch ``<id>`` land in
    ``<root>/corpus/batch=<id>``; per-batch counts append to
    ``<root>/metrics``.
    """

    def __init__(self, spark: SparkSession, root: str, **neardup_kwargs):
        self.spark = spark
        self.corpus_dir = os.path.join(root, "corpus")
        self.metrics_dir = os.path.join(root, "metrics")
        self.neardup = StreamingNearDup(
            spark, os.path.join(root, "neardup_state"), **neardup_kwargs
        )
        os.makedirs(root, exist_ok=True)

    def process_batch(
        self,
        docs: DataFrame,
        batch_id: int,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Gate + dedup one micro-batch; append survivors and metrics.
        Idempotent under replay: a re-delivered batch admits 0 rows (its
        ids are already in the dedup state), so the corpus and state
        appends add nothing.

        Per-batch job accounting (r12): the arrived/gated/admitted
        counters ride existing jobs as ``observe()`` metrics instead of
        running three count() jobs, and the 1-row metrics record is
        written driver-side with pyarrow (its Spark write job cost
        ~0.6 s — pure job-launch overhead for 4 integers).

        Corpus commit protocol (r13): the corpus write goes to a
        deterministic ``batch=<id>`` directory via the dedup layer's
        ``pre_commit`` hook — i.e. BEFORE the state's sigs commit
        marker — guarded by the directory's ``_SUCCESS`` file.
        The old order (state fully committed, THEN a blind corpus
        append filtered by pre-batch admitted_ids) had an unhealable
        window: a crash between the two left the docs
        admitted-in-state, so the replay's anti-join wrote nothing and
        their text never reached the corpus. Now every window heals:
        crash before the corpus write → replay sees no state marker,
        recomputes the same admitted set, rewrites the same directory
        (mode=overwrite, deterministic content); crash after it →
        ``_SUCCESS`` exists, the write is skipped, and the state
        re-commits idempotently. Cross-batch redelivery needs no filter
        here: ``pre_commit`` receives only the docs whose ids the dedup
        state does not hold yet, so a doc id admitted under an EARLIER
        batch_id never enters this batch's directory too."""
        from pyspark.sql import Observation

        obs_arrived, obs_gated, obs_admitted = (
            Observation(),
            Observation(),
            Observation(),
        )
        docs = docs.observe(obs_arrived, F.count(F.lit(1)).alias("n"))
        gated = c4_quality_gate(docs, text_col).observe(
            obs_gated, F.count(F.lit(1)).alias("n")
        )
        batch_dir = os.path.join(self.corpus_dir, f"batch={batch_id}")
        corpus_done = os.path.exists(os.path.join(batch_dir, "_SUCCESS"))

        def write_corpus(admitted_df: DataFrame) -> None:
            if corpus_done:
                return
            admitted_df.observe(
                obs_admitted, F.count(F.lit(1)).alias("n")
            ).write.mode("overwrite").parquet(batch_dir)

        admitted = self.neardup.process_batch(
            gated, id_col, text_col, pre_commit=write_corpus
        )
        if corpus_done:
            # replay after the corpus committed but (possibly) before
            # the state marker: the admitted count is what the batch
            # directory already holds (rare path — one cheap scan; an
            # all-duplicates batch may hold _SUCCESS and no data files)
            n_admitted = (
                self.spark.read.parquet(batch_dir).count()
                if parquet_files(batch_dir)
                else 0
            )
        else:
            n_admitted = obs_admitted.get["n"]
        self._write_metrics(
            batch_id,
            obs_arrived.get["n"],
            obs_gated.get["n"],
            n_admitted,
        )
        return admitted

    def _write_metrics(
        self, batch_id: int, n_arrived: int, n_gated: int, n_admitted: int
    ) -> None:
        """One metrics row, written driver-side (pyarrow): Spark reads it
        back like any other parquet append, without paying a Spark job
        for a 4-integer record.

        Write-temp-then-rename (ADVICE r12 #2): pyarrow writes in place,
        so a crash mid-write would leave a torn half-file that breaks
        every subsequent metrics() read. Writing under a dot-prefixed
        ``.inprogress`` name (skipped by ``parquet_files``' suffix and
        dot-prefix filter) and ``os.rename``-ing — atomic on
        POSIX within one directory — means readers only ever see
        complete files."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.metrics_dir, exist_ok=True)
        table = pa.table(
            {
                "batch_id": pa.array([batch_id], pa.int64()),
                "n_arrived": pa.array([n_arrived], pa.int64()),
                "n_gated": pa.array([n_gated], pa.int64()),
                "n_admitted": pa.array([n_admitted], pa.int64()),
            }
        )
        name = f"metrics-{batch_id}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.metrics_dir, f".{name}.inprogress")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.metrics_dir, name))

    def foreach_batch(self, id_col: str = "doc_id", text_col: str = "text"):
        """Adapter for ``writeStream.foreachBatch``."""

        def fn(batch_df: DataFrame, batch_id: int):
            self.process_batch(batch_df, batch_id, id_col, text_col)

        return fn

    def _read_or_empty(self, path: str, schema: str | None = None) -> DataFrame:
        files = parquet_files(path)
        if not files:
            return empty_df(self.spark, schema or _METRICS_SCHEMA)
        return self.spark.read.parquet(*files)

    def corpus(self, schema: str | None = None) -> DataFrame:
        """The admitted corpus as of now."""
        return self._read_or_empty(self.corpus_dir, schema)

    def metrics(self) -> DataFrame:
        """Per-batch observability counters."""
        return self._read_or_empty(self.metrics_dir, _METRICS_SCHEMA)
