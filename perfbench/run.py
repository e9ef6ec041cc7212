"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed, warms the workload up on ``local[<cpus>]``, times a closed loop
of a fixed number of operations sized to last about ``--seconds``
seconds on a 4-CPU host, checks the outputs, and prints one JSON line
last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run times
blocks of untraced, traced, traced and untraced segments of a fixed
number of operations instead and reports the per-layer metrics. Exits 1
when an output check fails, 2 when the program is not present.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # first statement: set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_CONSECUTIVE_FAILURES = 3

END_TO_END = {
    "setup_s": "s",
    "success_ratio": "ratio",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
}
TOP_SPANS = (
    "sync_job.sync_iteration",
    "replica_read",
    "corpus_ingest.batch",
    "query",
)
TOP_SPAN_KEYS = ("py4j.round_trips", "spark.jobs", "spark.task_s")


def per_layer_units() -> dict[str, str]:
    from perfbench.trace import ENGINE_KEYS
    from perfbench.workloads import SUITE

    units = {
        "process.peak_rss_mb": "MB",
        "session.start_s": "s",
        "sync_job.first_sync_s": "s",
        "sync_job.snapshot_rows_per_s": "1/s",
        "sync_job.iteration_s": "s",
        "sync_job.iterations": "count",
        "sync_job.peek_self_s": "s",
        "sync_job.advance_cursor_s": "s",
        "sync_job.write_failed": "count",
        "cdc.keep_last_by_key.calls": "count",
        "cdc.keep_last_by_key.build_s": "s",
        "replica.merge_s": "s",
        "replica.read_s": "s",
        "replica.bytes_written_per_event": "B",
        "bucketed.append_s": "s",
        "bucketed.compact_s": "s",
        "bucketed.compactions": "count",
        "bucketed.buckets_rewritten": "count",
        "bucketed.bytes_written_per_event": "B",
        "bucketed.read_s": "s",
        "bucketed.deltas_at_read": "count",
        "replica_read.p50_ms": "ms",
        "replica_read.max_ms": "ms",
        "corpus_ingest.batch_s": "s",
        "neardup_state.process_batch_s": "s",
        "neardup_state.compact_s": "s",
        "corpus_ingest.gated_ratio": "ratio",
        "corpus_ingest.admitted_ratio": "ratio",
        "queries.build_s": "s",
        "queries.execute_s": "s",
        "catalyst.analysis_ms": "ms",
        "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
    }
    units.update({f"query.{q}.s": "s" for q in SUITE})
    engine_units = {
        "py4j.round_trips": "count",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.task_s": "s",
        "spark.gc_s": "s",
        "spark.input_mb": "MB",
        "spark.shuffle_read_mb": "MB",
        "spark.shuffle_write_mb": "MB",
    }
    units.update({k: engine_units[k] for k in ENGINE_KEYS})
    for span in TOP_SPANS:
        for k in TOP_SPAN_KEYS:
            units[f"span.{span}.{k}"] = engine_units[k]
    units["trace.overhead_ratio"] = "ratio"
    return units


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> set[int]:
    """Live descendant pids of ``pid`` (from /proc parent links)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait until every process the
    run started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    children = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)


def timed_loop(wl, n_ops: int, stats: dict) -> tuple[float, int, list, list]:
    """Closed loop of ``n_ops`` operations. Returns (elapsed, work units,
    latency samples, per-operation times)."""
    units, lat, streak, op_s = 0, [], 0, []
    t0 = time.perf_counter()
    for _ in range(n_ops):
        stats["attempted"] += 1
        t_op = time.perf_counter()
        try:
            u, samples = wl.op()
        except Exception as ex:  # an operation failure is counted, not fatal
            stats["failed"] += 1
            stats["errors"].append(f"{type(ex).__name__}: {ex}")
            streak += 1
            if streak >= MAX_CONSECUTIVE_FAILURES:
                break
            continue
        op_s.append(round(time.perf_counter() - t_op, 3))
        units += u
        lat += samples
        streak = 0
    return time.perf_counter() - t0, units, lat, op_s


def run(args, state: str, cpus: int) -> dict:
    from clockpipe_spark.session import get_spark

    from perfbench.trace import ENGINE_KEYS, Tracer
    from perfbench.workloads import WORKLOADS, log

    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(state, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    session_s = time.perf_counter() - t0
    stats = {"attempted": 0, "failed": 0, "errors": []}
    try:
        wl = WORKLOADS[args.workload](spark, state, args.seed, args.seconds)
        t0 = time.perf_counter()
        wl.prepare()
        prep_s = time.perf_counter() - t0
        wl.warm_up()
        wl.start()
        setup_s = time.perf_counter() - T_PROCESS
        log(f"set-up: {setup_s:.3f} s (session {session_s:.3f} s, inputs {prep_s:.3f} s)")

        if not args.trace:
            elapsed, units, lat, op_s = timed_loop(wl, wl.timed_ops(args.seconds), stats)
            log(f"timed: {elapsed:.3f} s, {units} units, operation times (s) {op_s}")
        else:
            tr = Tracer(spark)
            engine = dict.fromkeys(ENGINE_KEYS, 0.0)
            traced_ops, ratios = 0, []
            # untraced/traced/traced/untraced: drift along the warm-up
            # curve and state growth weigh on both kinds alike in a block
            for _ in range(wl.trace_blocks):
                seg = {False: [0.0, 0], True: [0.0, 0]}
                for traced in (False, True, True, False):
                    if traced:
                        wl.install_trace(tr)
                        tr.count_py4j()
                        wl.tracer = tr
                        e0 = tr.engine_snapshot()
                    elapsed, units, _, _ = timed_loop(wl, wl.trace_segment, stats)
                    seg[traced][0] += elapsed
                    seg[traced][1] += units
                    if traced:
                        e1 = tr.engine_snapshot()
                        for key in ENGINE_KEYS:
                            engine[key] += e1[key] - e0[key]
                        traced_ops += wl.trace_segment
                        tr.uninstall()
                        wl.tracer = None
                (tu, nu), (tt, nt) = seg[False], seg[True]
                ratios.append((nt / tt) / (nu / tu) if nu and nt else 0.0)
        fails = wl.check()
        stats["attempted"] += 1
        if fails:
            stats["failed"] += 1
            stats["errors"] += fails
        rss = vm_hwm_mb("self") + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)

        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "success_ratio": (stats["attempted"] - stats["failed"]) / stats["attempted"],
                "throughput_per_s": units / elapsed,
                "latency_p50_ms": statistics.median(lat) * 1000 if lat else 0.0,
            }
            units_of = END_TO_END
        else:
            units_of = per_layer_units()
            metrics = dict.fromkeys(units_of, 0.0)
            metrics["session.start_s"] = session_s
            metrics["process.peak_rss_mb"] = rss
            metrics.update(wl.layer_metrics(tr))
            for key in ENGINE_KEYS:
                metrics[key] = engine[key] / max(1, traced_ops)
            for span, agg in tr.engine.items():
                if span in TOP_SPANS:
                    for key in TOP_SPAN_KEYS:
                        metrics[f"span.{span}.{key}"] = agg[key] / agg["calls"]
            metrics["trace.overhead_ratio"] = statistics.median(ratios)
            out_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(out_dir, exist_ok=True)
            tr.write(os.path.join(out_dir, f"{args.workload}-{args.seed}-{tr.run_id}.json"))
        unknown = set(metrics) - set(units_of)
        if unknown:
            raise RuntimeError(f"metrics without a declared unit: {sorted(unknown)}")
    finally:
        stop_spark(spark)
    for e in stats["errors"]:
        log(f"FAILED: {e}")
    return {
        "correct": stats["failed"] == 0,
        "attempted": stats["attempted"],
        "failed": stats["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units_of[k]} for k in units_of},
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "clockpipe_spark", "__init__.py")):
        print(f"clockpipe_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    # all run state lives in a fresh directory: Spark's local dirs, the
    # JVM's and Python's temp files, and the workload's inputs and targets
    local = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = os.path.join(local, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Python workers import clockpipe_spark (mapInPandas / pandas UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tempfile.tempdir = None
    try:
        result = run(args, tempfile.mkdtemp(prefix="state-", dir=local), cpus)
    finally:
        shutil.rmtree(local, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
