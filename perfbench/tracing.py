"""Traced-run instrumentation, kept entirely on the benchmark side.

Spans come from module-attribute wrappers: :meth:`Tracer.patch`
replaces a public engine function in every loaded engine module that
holds a reference to it (``catalog.table`` is imported by name into
each query module), records a span per call, and restores the
originals on :meth:`Tracer.restore`. Nothing is installed in an
untraced run.

Spark work is attributed by job group. The benchmark gives every
operation its own group; each wrapper that can run jobs switches the
calling thread to a child group (``<op>/<layer>.<n>``) for the length
of the call, so jobs run inside ``catalog.table`` or inside query
construction are counted exactly, not by timestamp. Counters are read
back from Spark's status store (UI off) after the listener bus drains.
Spans live in memory and are written out once, at exit.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

ENGINE = "clickhouse_realtime_analytics_demo_spark"
GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    t0: float
    t1: float
    thread: int
    op: str | None  # the operation's job group, shared by its spans
    id: int = 0
    parent: int | None = None  # the enclosing span in the same thread


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    groups: list[str] = field(default_factory=list)  # every group handed out
    plan_ms: list[tuple[str | None, float]] = field(default_factory=list)  # (op, ms)
    _patches: list[tuple[object, str, object]] = field(default_factory=list)
    _seq: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _stack: threading.local = field(default_factory=threading.local)

    # ---- groups ----
    def _next(self) -> int:
        with self._lock:
            self._seq += 1
            return self._seq

    def set_op(self, op: str) -> None:
        """Start a new operation in the calling thread."""
        self.spark.sparkContext.setLocalProperty(GROUP_PROP, op)
        with self._lock:
            self.groups.append(op)

    def _current(self) -> str | None:
        return self.spark.sparkContext.getLocalProperty(GROUP_PROP)

    # ---- spans ----
    def record(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    def wrap(self, func, name: str, own_group: bool = True, after=None):
        tracer = self

        def wrapper(*args, **kwargs):
            sc = tracer.spark.sparkContext
            parent = tracer._current()
            op = parent.split("/", 1)[0] if parent else None  # root of the group
            if own_group and parent:
                child = f"{parent}/{name}.{tracer._next()}"
                sc.setLocalProperty(GROUP_PROP, child)
                with tracer._lock:
                    tracer.groups.append(child)
            stack = tracer._stack.__dict__.setdefault("ids", [])
            span = Span(name, 0.0, 0.0, threading.get_ident(), op, tracer._next(),
                        stack[-1] if stack else None)
            stack.append(span.id)
            span.t0 = time.perf_counter()
            try:
                out = func(*args, **kwargs)
            finally:
                span.t1 = time.perf_counter()
                stack.pop()
                if own_group and parent:
                    sc.setLocalProperty(GROUP_PROP, parent)
                tracer.record(span)
            if after is not None:
                after(args, out)
            return out

        wrapper.__wrapped__ = func
        return wrapper

    def patch(self, func, name: str, **kw) -> None:
        """Replace ``func`` wherever an engine module holds it."""
        wrapper = self.wrap(func, name, **kw)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(ENGINE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self._patches.append((mod, attr, func))
                    setattr(mod, attr, wrapper)

    def patch_query_fns(self, queries: dict) -> None:
        """Wrap each registry entry's ``fn`` (frozen dataclasses, shared
        by every ``all_queries()`` dict) as ``queries.construct``."""
        for q in queries.values():
            self._patches.append((q, "fn", q.fn))
            object.__setattr__(q, "fn", self.wrap(q.fn, "queries.construct"))

    def restore(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            object.__setattr__(obj, attr, orig)
        self._patches.clear()

    def note_plan(self, df) -> None:
        """Catalyst phase times (analysis, optimization, planning) of a
        DataFrame the benchmark holds, from its QueryExecution tracker."""
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        total = 0.0
        while it.hasNext():
            total += it.next()._2().durationMs()
        group = self._current()
        with self._lock:
            self.plan_ms.append((group.split("/", 1)[0] if group else None, total))

    # ---- reading back ----
    def span_totals(self, ops: set[str] | None = None) -> dict[str, tuple[int, float]]:
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            if ops is None or s.op in ops:
                out[s.name][0] += 1
                out[s.name][1] += s.t1 - s.t0
        return {k: (v[0], v[1]) for k, v in out.items()}

    def spans_of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def spark_counters(spark, groups: list[str] = (), window: tuple[float, float] | None = None
                   ) -> dict[str, float]:
    """Jobs, stages, tasks, executor CPU, shuffle, spill, failed tasks
    and task wait from the status store, for the jobs of ``groups`` or,
    with ``window`` (epoch seconds), for every job submitted in it."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    jobs: set[int] = set()
    for g in groups:
        jobs.update(tracker.getJobIdsForGroup(g))
    if window is not None:
        lo, hi = window[0] * 1e3, window[1] * 1e3
        it = store.jobsList(None).iterator()
        while it.hasNext():
            jd = it.next()
            sub = jd.submissionTime()
            if sub.isDefined() and lo <= sub.get().getTime() <= hi:
                jobs.add(jd.jobId())
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "failed_tasks", "task_wait_s"), 0.0)
    out["jobs"] = float(len(jobs))
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage that never got an attempt
            continue
        status = sd.status().toString()
        if status not in ("COMPLETE", "FAILED"):
            continue  # skipped stages reuse another job's shuffle output
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        sub, first = sd.submissionTime(), sd.firstTaskLaunchedTime()
        if sub.isDefined() and first.isDefined():
            out["task_wait_s"] += max(0, first.get().getTime() - sub.get().getTime()) / 1e3
    return out


def op_layers(spark, tracer: Tracer, ops: set[str]) -> dict[str, float]:
    """Layer metrics shared by the request-shaped workloads, over the
    operations ``ops``: catalog, query construction, Catalyst phases
    and the Spark counters of every job the operations ran."""
    tot = tracer.span_totals(ops)
    groups = [g for g in tracer.groups if g.split("/", 1)[0] in ops]
    catalog = [g for g in groups if g.rsplit("/", 1)[-1].startswith("catalog.table.")]
    construct = [g for g in groups if "/queries.construct." in g]
    out = {
        "catalog.table_calls": tot.get("catalog.table", (0, 0.0))[0],
        "catalog.table_s": tot.get("catalog.table", (0, 0.0))[1],
        # schema-inference and other jobs run inside catalog.table
        "catalog.jobs": spark_counters(spark, catalog)["jobs"],
        "queries.construct_s": tot.get("queries.construct", (0, 0.0))[1],
        # jobs run while the DataFrame is built, before the action
        "queries.construct_jobs": spark_counters(spark, construct)["jobs"],
        "spark.plan_s": sum(ms for op, ms in tracer.plan_ms if op in ops) / 1e3,
    }
    for k, v in spark_counters(spark, groups).items():
        out[f"spark.{k}"] = v
    return out
