"""Per-layer tracing for the benchmark, measured from outside the program.

A :class:`Tracer` records, for a traced run:

* spans around each call into a traced module's public functions (the
  functions are wrapped in place, in every loaded ``dataproc_spark``
  module that bound them), around each gate the benchmark builds and
  around each action it issues — name, layer, op id, parent, start, end;
* Spark counters per benchmark step, through a job group per step and the
  status store (``getJobIdsForGroup`` → job → stage attempts);
* the Catalyst phases and executed plan of every action, from a
  ``QueryExecutionListener`` registered over the py4j callback server.

JVM intervals (jobs, Catalyst phases) are attributed to the innermost
Python span that contains them, so each layer's self time is its spans'
time minus their child spans and minus the JVM work issued inside them.
With tracing off the same :meth:`step` calls only time the step.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: the Catalyst phases QueryPlanningTracker records for every action
PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Step:
    """One benchmark call inside an op: its wall time and, when traced,
    the Spark work launched under its job group."""

    op: str
    label: str
    action: bool
    seconds: float = 0.0
    group: str = ""
    counters: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.steps: list[Step] = []
        self.queries: list[dict] = []  # one per action seen by the listener
        self.hook_s = 0.0  # time spent inside tracing hooks while ops ran
        self._stack: list[Span] = []
        self._op: str | None = None
        self._sc = None
        self._pending: list = []

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        h0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, self._op, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.hook_s += time.perf_counter() - h0
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()

    @contextmanager
    def op(self, op_id: str):
        self._op = op_id
        try:
            with self.span(op_id, "bench"):
                yield
        finally:
            self._op = None

    def step(self, label: str, fn, *args, action: bool = False,
             layer: str | None = None, **kwargs):
        """Run one benchmark call of the current op under its own job group
        (traced), inside a span when ``layer`` is given (calls into wrapped
        modules open their own span)."""
        st = Step(self._op, label, action)
        self.steps.append(st)
        if self.enabled:
            h0 = time.perf_counter()
            st.group = f"{self._op}|{label}"
            self._sc.setJobGroup(st.group, st.group)
            self.hook_s += time.perf_counter() - h0
        t0 = time.perf_counter()
        try:
            if layer and self.enabled:
                with self.span(label, layer):
                    return fn(*args, **kwargs)
            return fn(*args, **kwargs)
        finally:
            st.seconds = time.perf_counter() - t0

    # -- wiring -------------------------------------------------------------

    def wrap_modules(self, layers: dict) -> None:
        """Wrap every public function defined in each module of ``layers``
        (module -> layer name) with a span, and rebind it in every loaded
        ``dataproc_spark`` module that imported it by name."""
        wrapped = {}
        for mod, layer in layers.items():
            short = mod.__name__.rsplit(".", 1)[-1]
            for name, fn in vars(mod).items():
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                wrapped[id(fn)] = (fn, self._wrap(fn, f"{short}.{name}", layer))
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("dataproc_spark"):
                continue
            for name, value in list(vars(mod).items()):
                hit = wrapped.get(id(value))
                if hit is not None and hit[0] is value:
                    setattr(mod, name, hit[1])

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def attach(self, spark) -> None:
        """Register the QueryExecutionListener. The callback only queues
        the QueryExecution; :meth:`drain` reads it after the ops."""
        from pyspark.java_gateway import ensure_callback_server_started

        self._sc = spark.sparkContext
        ensure_callback_server_started(self._sc._gateway)
        tracer = self

        class Listener:
            def onSuccess(self, func_name, qe, duration_ns):
                tracer._pending.append((func_name, qe, True))

            def onFailure(self, func_name, qe, exception):
                tracer._pending.append((func_name, qe, False))

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self._listener = Listener()  # held for the session's lifetime
        spark._jsparkSession.listenerManager().register(self._listener)

    # -- reading the JVM side -----------------------------------------------

    def drain(self) -> None:
        """Wait for the listener bus, then turn queued QueryExecutions into
        plain records (phases and cache scans) and drop the JVM handles."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        pending, self._pending = self._pending, []
        for func_name, qe, ok in pending:
            # a failed action may have no executed plan to walk
            rec = {"func": func_name, "ok": ok, "scans": _cache_scans(qe) if ok else 0}
            phases = qe.tracker().phases()
            for ph in PHASES:
                opt = phases.get(ph)
                if opt.isDefined():
                    p = opt.get()
                    rec[ph] = (p.startTimeMs() / 1e3, p.endTimeMs() / 1e3)
            self.queries.append(rec)

    def collect_step(self, st: Step) -> list[tuple[float, float]]:
        """Sum the stage counters of ``st``'s job group; returns the job
        intervals (epoch seconds) for self-time attribution."""
        sc = self._sc
        store = sc._jsc.sc().statusStore()
        c = defaultdict(float)
        intervals = []
        seen = set()
        for job_id in sc.statusTracker().getJobIdsForGroup(st.group):
            job = store.job(job_id)
            c["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage pruned from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["executor_run_s"] += sd.executorRunTime() / 1e3
                c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                c["jvm_gc_s"] += sd.jvmGcTime() / 1e3
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        st.counters = dict(c)
        return intervals

    def persisted_bytes(self) -> int:
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))

    # -- self time ----------------------------------------------------------

    def self_times(self, jvm: list[tuple[float, float, str]]) -> dict:
        """Self seconds per layer. ``jvm`` holds (start, end, layer)
        intervals; each is charged to the innermost span containing its
        midpoint, and taken out of that span's own time."""
        children = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent] += s.end - s.start
        owned = defaultdict(list)
        for a, b, layer in jvm:
            mid = (a + b) / 2
            inner = None
            for s in self.spans:
                if s.start <= mid <= s.end and (inner is None or s.start >= inner.start):
                    inner = s
            if inner is not None:
                owned[inner.id].append((max(a, inner.start), min(b, inner.end), layer))
        out = defaultdict(float)
        for s in self.spans:
            jvm_here = owned.get(s.id, [])
            for layer in {lay for _, _, lay in jvm_here}:
                out[layer] += _union([(a, b) for a, b, lay in jvm_here if lay == layer])
            busy = _union([(a, b) for a, b, _ in jvm_here])
            out[s.layer] += max(0.0, s.end - s.start - children[s.id] - busy)
        return dict(out)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _cache_scans(qe) -> int:
    """InMemoryTableScan nodes in an action's executed plan, looking
    through adaptive plans and query stages (not into cached relations'
    own plans, which are not part of this action)."""
    todo, n = [qe.executedPlan()], 0
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        if name == "InMemoryTableScan":
            n += 1
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return n
