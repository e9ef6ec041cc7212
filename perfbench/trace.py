"""Span tracer for the traced benchmark run.

Wraps the program's public functions from outside (the program itself
is not edited), keeps spans in memory and writes them once at the end.

- A span records name, start, end, parent and run id. A span opened on
  a thread with no open span of its own (``SyncJob``'s merge-pool
  threads) takes the open top-level span as its parent.
- Self time is a span's duration minus the union of its children.
- py4j round trips are counted by wrapping the gateway client's
  ``send_command``.
- Around each top-level span the tracer waits for the listener bus to
  drain and snapshots Spark's own counters from the status store.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
import uuid
from collections import defaultdict

ENGINE_KEYS = (
    "py4j.round_trips",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.task_s",
    "spark.gc_s",
    "spark.input_mb",
    "spark.shuffle_read_mb",
    "spark.shuffle_write_mb",
)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.engine: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.trips = 0
        self._paused = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._top: dict | None = None
        self._patches: list[tuple[object, str, object]] = []
        self._main = threading.get_ident()

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else self._top
        top = parent is None and threading.get_ident() == self._main
        # the snapshot is taken before the span starts, as end() takes
        # its snapshot after the span ends: neither is charged to it
        engine0 = self.engine_snapshot() if top else None
        span = {
            "name": name,
            "parent": None if parent is None else parent["id"],
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        if top:
            span["engine0"] = engine0
            self._top = span
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack().pop()
        if self._top is span:
            after = self.engine_snapshot()
            before = span.pop("engine0")
            agg = self.engine[span["name"]]
            agg["calls"] += 1
            for k in ENGINE_KEYS:
                agg[k] += after[k] - before[k]
            self._top = None

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        except BaseException as ex:
            s["error"] = type(ex).__name__
            raise
        finally:
            self.end(s)

    # -- patching ------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``before(args)``
        returns attrs stored on the span; ``after(span, args, result)``
        may add more. Both run outside the span's interval."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            # hooks run outside the span, so their cost is not attributed
            attrs = before(args) if before else {}
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
            s.update(attrs)
            if after:
                after(s, args, out)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def count_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            if not tracer._paused:
                with tracer._lock:
                    tracer.trips += 1
            return orig(*args, **kwargs)

        self._patches.append((client, "send_command", orig))
        client.send_command = send_command

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- Spark counters ------------------------------------------------------
    def engine_snapshot(self) -> dict[str, float]:
        """Cumulative engine counters after the listener bus drains. The
        tracer's own py4j calls are not counted."""
        self._paused = True
        try:
            jsc = self.spark.sparkContext._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            execs = jsc.statusStore().executorList(True)
            tot = defaultdict(float)
            for i in range(execs.size()):
                e = execs.apply(i)
                tot["tasks"] += e.completedTasks()
                tot["task_ms"] += e.totalDuration()
                tot["gc_ms"] += e.totalGCTime()
                tot["input"] += e.totalInputBytes()
                tot["sread"] += e.totalShuffleRead()
                tot["swrite"] += e.totalShuffleWrite()
            dag = jsc.dagScheduler()
            mb = 1 << 20
            return {
                "py4j.round_trips": self.trips,
                "spark.jobs": dag.nextJobId(),
                "spark.stages": dag.nextStageId(),
                "spark.tasks": tot["tasks"],
                "spark.task_s": tot["task_ms"] / 1000,
                "spark.gc_s": tot["gc_ms"] / 1000,
                "spark.input_mb": tot["input"] / mb,
                "spark.shuffle_read_mb": tot["sread"] / mb,
                "spark.shuffle_write_mb": tot["swrite"] / mb,
            }
        finally:
            self._paused = False

    # -- summaries -----------------------------------------------------------
    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def mean_s(self, name: str) -> float:
        spans = self.by_name(name)
        return sum(s["end"] - s["start"] for s in spans) / len(spans) if spans else 0.0

    def self_time(self, span: dict) -> float:
        """Duration minus the union of the children's intervals."""
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans
            if c["parent"] == span["id"] and c["end"] is not None
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span["end"] - span["start"] - covered

    def mean_self_s(self, name: str) -> float:
        spans = self.by_name(name)
        return sum(self.self_time(s) for s in spans) / len(spans) if spans else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run": self.run_id,
                    "spans": self.spans,
                    "engine_by_top_span": {k: dict(v) for k, v in self.engine.items()},
                },
                f,
            )
