"""The benchmark workloads.

Each workload is one process with one client (the pipe, or the suite
driver) running a closed loop: the next operation starts when the
previous one returns. A workload provides

- ``prepare()``: generate the timed input;
- ``warm_up()``: run the same code on a seed-derived input that differs
  from the timed one, printing each pass's time;
- ``start()``: build the timed target (outside the timed phase);
- ``op()``: one operation, returning (work units, latency samples);
- ``timed_ops(seconds)``: how many operations the timed window holds;
- ``check()``: output checks, returning failure strings;
- ``install_trace(tracer)`` and ``layer_metrics(tracer, ...)`` for the
  traced run.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time

import pyarrow.parquet as pq

from perfbench import checks, gen

# frozen from bench.py HEADLINE (the 44-query headline suite) at the
# commit that introduced this benchmark; the run budget fits 8 of them,
# one per plan family: TPC-H joins and aggregates (q3, q21), a CDC
# replica view, text higher-order functions, LSH dedup, brute-force
# vector search, a pandas-UDF pass and a time-series window
SUITE = (
    "q3_shipping_priority",
    "q21_waiting_suppliers",
    "cdc_apply_to_snapshot",
    "text_c4_filters",
    "dedup_minhash_lsh",
    "cosine_topk_brute",
    "mm_image_phash_neardup",
    "ts_ewma_bounded",
)

TABLES = ("t0", "t1", "t2", "t3")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parquet_bytes(files) -> int:
    """Compressed column-chunk bytes from parquet footers (no Spark job)."""
    total = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            total += sum(rg.column(j).total_compressed_size for j in range(rg.num_columns))
    return total


def parquet_files(root: str) -> set[str]:
    return {
        os.path.join(d, n)
        for d, _, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    }


class Workload:
    op_seconds = 1.0  # nominal op time on a 4-CPU host: sizes the window
    trace_segment = 1  # operations per segment of a traced run
    trace_blocks = 1  # untraced, traced, traced, untraced segment blocks per traced run

    @property
    def trace_ops(self) -> int:
        """Operations a traced run times, half of them traced."""
        return 4 * self.trace_segment * self.trace_blocks

    def timed_ops(self, seconds: float) -> int:
        """A fixed number of operations lasting about ``seconds`` on a
        4-CPU host, so every run times the same work."""
        return max(1, round(seconds / self.op_seconds))

    def __init__(self, spark, work: str, seed: int, seconds: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.warm_seed = seed + 1_000_003
        self.tracer = None  # set by the runner during traced operations

    def start(self) -> None:
        """Set-up after warm-up that the timed window relies on."""

    def _fresh(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


# -- CDC ---------------------------------------------------------------------
class CdcReplica(Workload):
    """One long-lived ``SyncJob`` over 4 routed tables: t0 and t1 sink
    into the flat ``ReplicaStore`` (a full-state rewrite per merge), t2
    and t3 into ``BucketedReplicaStore`` with 16 buckets (a delta
    append per merge, compaction on every 8th). One op = one
    ``sync_iteration`` at the peek cap, then a FINAL-view read (noop
    sink) of one table, rotating t0..t3, so reads of both stores follow
    the writes.

    Warm-up is the snapshot and iterations 1-4 over the log's first
    events. The timed window starts at iteration 5 and spans whole
    multiples of 8 iterations, so it always holds one compaction of
    each bucketed table per 8 iterations and reads over the same mix of
    pending deltas."""

    rows_per_table = 5_000
    peek_cap = 8_192
    buckets = 16
    compact_every = 8  # BucketedReplicaStore's default
    warm_ops = 4
    op_seconds = 1.75
    # traced run: iterations 5-8 untraced, 9-16 traced, 17-20 untraced,
    # so each kind holds one compaction (iterations 8 and 16)
    trace_segment = 4
    events_traced = 0

    def timed_ops(self, seconds: float) -> int:
        cycles = max(1, round(seconds / (self.compact_every * self.op_seconds)))
        return cycles * self.compact_every

    def prepare(self) -> None:
        from clockpipe_spark.config import PipeConfig, SourceTable, TableOptions

        self.src = self._fresh("src")
        iterations = self.warm_ops + max(self.timed_ops(self.seconds), self.trace_ops)
        n_events = self.peek_cap * iterations
        gen.write_tables(
            gen.cdc_inputs(self.seed, len(TABLES), self.rows_per_table, n_events), self.src
        )
        bucketed = TableOptions(sink_buckets=self.buckets)
        self.config = PipeConfig(
            tables=[
                SourceTable(t, table_options=bucketed if t in ("t2", "t3") else None)
                for t in TABLES
            ],
            peek_changes_limit=self.peek_cap,
        )

    def warm_up(self) -> None:
        from clockpipe_spark.sync_job import SyncJob

        path = os.path.join(self.src, "changes.parquet")
        self.job = SyncJob(
            self.spark, self.config, self.src, self._fresh("target"),
            changelog_fn=lambda s: s.read.parquet(path),
        )
        t0 = time.perf_counter()
        self.job.first_sync()
        self.snapshot_s = time.perf_counter() - t0
        log(f"warm-up snapshot: {self.snapshot_s:.3f} s")
        self.iterations = 0
        self.read_lat: list[float] = []  # traced reads only
        for i in range(self.warm_ops):
            t0 = time.perf_counter()
            self.op()
            log(f"warm-up iteration {i + 1}: {time.perf_counter() - t0:.3f} s")

    def _read(self, table: str) -> float:
        t0 = time.perf_counter()
        self.job.store_for(table).read(self.spark).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def op(self):
        t0 = time.perf_counter()
        counters = self.job.sync_iteration()
        lat = time.perf_counter() - t0
        if not counters:
            raise RuntimeError("change log exhausted before the run ended")
        table = TABLES[self.iterations % len(TABLES)]
        if self.tracer is None:
            self._read(table)
        else:
            with self.tracer.span("replica_read"):
                self.read_lat.append(self._read(table))
        self.iterations += 1
        return sum(counters.values()), [lat]

    def check(self) -> list[str]:
        return checks.check_cdc(self.spark, self.job, self.src, list(TABLES))

    def install_trace(self, tr) -> None:
        from clockpipe_spark import sync_job
        from clockpipe_spark.cdc import ops
        from clockpipe_spark.streaming import bucketed_replica, replica

        def count_events(span, args, out):
            self.events_traced += sum(out.values()) if out else 0

        def files_before(args):
            return {"files0": parquet_files(args[0].root)}

        def bytes_after(span, args, out):
            span["bytes"] = parquet_bytes(parquet_files(args[0].root) - span.pop("files0"))

        def manifest_before(args):
            return {"manifest0": args[0].read_manifest()}

        def rewritten_after(span, args, out):
            old, new = span.pop("manifest0"), args[0].read_manifest()
            span["buckets_rewritten"] = sum(
                1 for k, v in new.items() if not k.startswith("__") and old.get(k) != v
            ) + sum(1 for k in old if not k.startswith("__") and k not in new)

        def deltas_before(args):
            return {"deltas": len(args[0].read_manifest().get("__deltas__", []))}

        SJ = sync_job.SyncJob
        tr.wrap(SJ, "sync_iteration", "sync_job.sync_iteration", after=count_events)
        tr.wrap(SJ, "advance_cursor", "sync_job.advance_cursor")
        for mod in (ops, sync_job, bucketed_replica):
            tr.wrap(mod, "keep_last_by_key", "cdc.keep_last_by_key")
        RS, BS = replica.ReplicaStore, bucketed_replica.BucketedReplicaStore
        tr.wrap(RS, "merge_changes", "replica.merge", before=files_before, after=bytes_after)
        tr.wrap(RS, "read", "replica.read")
        tr.wrap(BS, "merge_changes", "bucketed.merge", before=files_before, after=bytes_after)
        tr.wrap(BS, "_compact", "bucketed.compact", before=manifest_before, after=rewritten_after)
        tr.wrap(BS, "read", "bucketed.read", before=deltas_before)

    def layer_metrics(self, tr) -> dict[str, float]:
        from clockpipe_spark.sync_job import WriteFailedError

        its = tr.by_name("sync_job.sync_iteration")
        # events merged per store kind: two of the four tables each
        half = max(1, self.events_traced) / 2
        merges_b = tr.by_name("bucketed.merge")
        reads_b = tr.by_name("bucketed.read")
        return {
            "sync_job.first_sync_s": self.snapshot_s,
            "sync_job.snapshot_rows_per_s": len(TABLES) * self.rows_per_table / self.snapshot_s,
            "sync_job.iteration_s": tr.mean_s("sync_job.sync_iteration"),
            "sync_job.iterations": len(its),
            "sync_job.peek_self_s": tr.mean_self_s("sync_job.sync_iteration"),
            "sync_job.advance_cursor_s": tr.mean_s("sync_job.advance_cursor"),
            "sync_job.write_failed": sum(
                s.get("error") == WriteFailedError.__name__ for s in its
            ),
            "cdc.keep_last_by_key.calls": len(tr.by_name("cdc.keep_last_by_key")),
            "cdc.keep_last_by_key.build_s": tr.mean_s("cdc.keep_last_by_key"),
            "replica.merge_s": tr.mean_s("replica.merge"),
            "replica.read_s": tr.mean_s("replica.read"),
            "replica.bytes_written_per_event": sum(
                s["bytes"] for s in tr.by_name("replica.merge")
            ) / half,
            "bucketed.append_s": tr.mean_self_s("bucketed.merge"),
            "bucketed.compact_s": tr.mean_s("bucketed.compact"),
            "bucketed.compactions": len(tr.by_name("bucketed.compact")),
            "bucketed.buckets_rewritten": sum(
                s["buckets_rewritten"] for s in tr.by_name("bucketed.compact")
            ),
            "bucketed.bytes_written_per_event": sum(s["bytes"] for s in merges_b) / half,
            "bucketed.read_s": tr.mean_s("bucketed.read"),
            "bucketed.deltas_at_read": (
                statistics.fmean(s["deltas"] for s in reads_b) if reads_b else 0.0
            ),
            "replica_read.p50_ms": statistics.median(self.read_lat) * 1000,
            "replica_read.max_ms": max(self.read_lat) * 1000,
        }


# -- analytics suite -----------------------------------------------------------
class AnalyticsSuite(Workload):
    """The frozen suite queries over generated registry tables, each
    written to a noop sink. One op = one pass of the suite, every query
    once in a seeded order; its latency is the suite's wall time, and
    its work units are queries. The warm-up pass runs on a second
    generated data set and doubles as the output check: each query's
    collected result is compared with its DuckDB oracle on that data."""

    scale = 0.001
    op_seconds = 2.4  # a pass takes 2.5-5 s; the first timed pass is the slowest

    def prepare(self) -> None:
        self.data = self._fresh("data")
        gen.write_tables(gen.analytics_tables(self.seed, self.scale), self.data)

    def warm_up(self) -> None:
        from clockpipe_spark.catalog import TABLES as REG_TABLES
        from clockpipe_spark.queries import all_oracles, all_queries

        self.queries = all_queries()
        data = self._fresh("warm_data")
        gen.write_tables(gen.analytics_tables(self.warm_seed, self.scale), data)
        expected = checks.oracle_frames(data, REG_TABLES, all_oracles(), SUITE)
        self.failures: list[str] = []
        t0 = time.perf_counter()
        for name in SUITE:
            sdf = self.queries[name](self.spark, data).toPandas()
            self.failures += checks.compare_oracle(name, sdf, expected[name])
        log(f"warm-up and check pass: {time.perf_counter() - t0:.3f} s")

    def start(self) -> None:
        from clockpipe_spark.catalog import TABLES as REG_TABLES
        from clockpipe_spark.catalog import load_table

        # fill the catalog's per-path table memo (file listing, footer
        # schema) for the timed data, a once-per-data-set cost
        for t in REG_TABLES:
            load_table(self.spark, self.data, t)
        self.rng = random.Random(self.seed)

    def op(self):
        order = list(SUITE)
        self.rng.shuffle(order)
        t0 = time.perf_counter()
        for name in order:
            if self.tracer is None:
                self.queries[name](self.spark, self.data).write.format("noop").mode(
                    "overwrite"
                ).save()
            else:
                self._traced_query(name)
        return len(SUITE), [time.perf_counter() - t0]

    def _traced_query(self, name: str) -> None:
        tr = self.tracer
        with tr.span("query") as q:
            q["query"] = name
            with tr.span("queries.build"):
                df = self.queries[name](self.spark, self.data)
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                o = phases.get(ph)
                q[ph] = o.get().durationMs() if o.isDefined() else 0
            with tr.span("queries.execute"):
                df.write.format("noop").mode("overwrite").save()

    def check(self) -> list[str]:
        return self.failures

    def install_trace(self, tr) -> None:
        pass  # op() opens the query spans itself while a tracer is set

    def layer_metrics(self, tr) -> dict[str, float]:
        qs = tr.by_name("query")
        m = {
            "queries.build_s": tr.mean_s("queries.build"),
            "queries.execute_s": tr.mean_s("queries.execute"),
        }
        for ph in ("analysis", "optimization", "planning"):
            m[f"catalyst.{ph}_ms"] = statistics.fmean(q[ph] for q in qs)
        for q in qs:
            m[f"query.{q['query']}.s"] = q["end"] - q["start"]
        return m


# -- corpus ingest -------------------------------------------------------------
class CorpusIngest(Workload):
    """``CorpusIngestPipeline.process_batch`` over generated document
    batches with planted exact and near copies of earlier-batch
    documents. One op = one batch, in order, into one pipeline."""

    batch_docs = 64
    op_seconds = 3.0
    compact_after_files = 12  # the band/sig logs compact every ~3 batches
    trace_blocks = 2  # 8 batches, untraced/traced/traced/untraced twice

    def _pipe(self, name: str):
        from clockpipe_spark.streaming.corpus_ingest import CorpusIngestPipeline

        return CorpusIngestPipeline(
            self.spark, self._fresh(name), compact_after_files=self.compact_after_files
        )

    def _write_batches(self, batches, name: str) -> list[str]:
        out = self._fresh(name)
        os.makedirs(out)
        paths = [os.path.join(out, f"batch_{i:04d}.parquet") for i in range(len(batches))]
        for b, p in zip(batches, paths):
            pq.write_table(b, p)
        return paths

    def prepare(self) -> None:
        n_batches = max(self.timed_ops(self.seconds), self.trace_ops)
        self.batches, self.planted = gen.corpus_docs(self.seed, n_batches, self.batch_docs)
        self.paths = self._write_batches(self.batches, "batches")

    def warm_up(self) -> None:
        batches, _ = gen.corpus_docs(self.warm_seed, 1, self.batch_docs, id_base=10**9)
        pipe = self._pipe("warm_ingest")
        for i, p in enumerate(self._write_batches(batches, "warm_batches")):
            t0 = time.perf_counter()
            pipe.process_batch(self.spark.read.parquet(p), batch_id=i)
            log(f"warm-up batch {i}: {time.perf_counter() - t0:.3f} s")

    def start(self) -> None:
        self.pipe = self._pipe("ingest")
        self.done: list[tuple[int, object]] = []

    def op(self):
        i = len(self.done)
        if i >= len(self.batches):
            raise RuntimeError("generated batches exhausted before the run ended")
        t0 = time.perf_counter()
        self.pipe.process_batch(self.spark.read.parquet(self.paths[i]), batch_id=i)
        lat = time.perf_counter() - t0
        self.done.append((i, self.batches[i]))
        return self.batch_docs, [lat]

    def check(self) -> list[str]:
        return checks.check_corpus(self.pipe, self.done, self.planted["exact"])

    def install_trace(self, tr) -> None:
        from clockpipe_spark.streaming import corpus_ingest, neardup_state

        tr.wrap(corpus_ingest.CorpusIngestPipeline, "process_batch", "corpus_ingest.batch")
        ND = neardup_state.StreamingNearDup
        tr.wrap(ND, "process_batch", "neardup_state.process_batch")

        def compacted(span, args, out):
            span["files"] = out

        tr.wrap(ND, "compact_bands", "neardup_state.compact", after=compacted)
        tr.wrap(ND, "compact_sigs", "neardup_state.compact", after=compacted)

    def layer_metrics(self, tr) -> dict[str, float]:
        metrics = checks.read_parquet_dir(self.pipe.metrics_dir)
        arrived = max(1, int(metrics["n_arrived"].sum()))
        done = [s for s in tr.by_name("neardup_state.compact") if s["files"]]
        return {
            "corpus_ingest.batch_s": tr.mean_s("corpus_ingest.batch"),
            "neardup_state.process_batch_s": tr.mean_s("neardup_state.process_batch"),
            "neardup_state.compact_s": (
                statistics.fmean(s["end"] - s["start"] for s in done) if done else 0.0
            ),
            "corpus_ingest.gated_ratio": int(metrics["n_gated"].sum()) / arrived,
            "corpus_ingest.admitted_ratio": int(metrics["n_admitted"].sum()) / arrived,
        }


WORKLOADS = {
    "cdc_replica": CdcReplica,
    "analytics_suite": AnalyticsSuite,
    "corpus_ingest": CorpusIngest,
}
