"""Benchmark-side span tracer for migration runs.

Spans are recorded around the calls into each layer from the benchmark's own
code: a ``MigrationPipeline`` subclass wraps the pipeline steps, and proxies
wrap the source, the target and the checkpoint store. Every span tags the
Spark jobs it launches with its own job group, set inside the thread that
runs the span (job groups are thread-local, so wave threads are covered).
After a pass, jobs come from ``statusTracker().getJobIdsForGroup`` and stage
metrics from the driver's status store, which is populated with the UI off.

Spans are kept in memory and written out as JSON at the end of the run.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

from pgferry_spark.pipeline import MigrationPipeline

# the top-level spans whose Spark work is broken out per span
SPARK_SPANS = ("sources.read", "operators.orphans.clean", "sink.write", "plans.validation")
SPARK_FIELDS = ("jobs", "tasks", "executor_run_s", "shuffle_bytes", "spill_bytes")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)
    spark: dict = field(default_factory=dict)
    result_tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.root: Span | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else self.root

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self.current()
        with self._lock:
            sp = Span(next(self._ids), name, parent.id if parent else None,
                      self.run_id, 0.0, attrs=attrs)
            self.spans.append(sp)
        group = f"{self.run_id}:{sp.id}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group, name)
        stack = self._stack()
        stack.append(sp)
        if parent is None:
            self.root = sp
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            if sp is self.root:
                self.root = None

    # -- Spark job/stage metrics ------------------------------------------

    def collect_spark_metrics(self) -> None:
        """Attach job and stage metrics to every span (call after a pass)."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Py4JError:  # private API; fall back to a pause
            time.sleep(0.5)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            if sp.spark:
                continue
            jobs = sorted(tracker.getJobIdsForGroup(f"{self.run_id}:{sp.id}"))
            agg = dict.fromkeys(SPARK_FIELDS, 0)
            agg["jobs"] = len(jobs)
            seen: set[int] = set()
            for j in jobs:
                try:
                    ids = store.job(j).stageIds()
                except Py4JError:  # evicted job
                    continue
                stage_ids = [ids.apply(i) for i in range(ids.size())]
                for k, sid in enumerate(sorted(stage_ids, reverse=True)):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JError:  # skipped, never attempted
                        continue
                    if str(st.status()) == "SKIPPED":
                        continue
                    agg["tasks"] += st.numTasks()
                    agg["executor_run_s"] += st.executorRunTime() / 1000.0
                    agg["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                    agg["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    if k == 0:  # a job's result stage: one task per output partition
                        sp.result_tasks += st.numTasks()
            sp.jobs = jobs
            sp.spark = agg


# -- derived figures --------------------------------------------------------


def union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[tuple[str, int], float]:
    """Span duration minus the part of it that its children cover, keyed by
    (run id, span id)."""
    kids: dict[tuple[str, int], list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault((s.run_id, s.parent), []).append(s)
    return {
        (s.run_id, s.id): s.dur - union_len(
            [(c.start, c.end) for c in kids.get((s.run_id, s.id), [])]
        )
        for s in spans
    }


# -- wrappers ---------------------------------------------------------------


class _Proxy:
    """Forwards every attribute to the wrapped object; calls of the names in
    ``_spans`` run inside a span of the mapped name."""

    _spans: dict[str, str] = {}

    def __init__(self, inner, tracer: Tracer):
        object.__setattr__(self, "_inner", inner)
        object.__setattr__(self, "_tracer", tracer)

    def _span_name(self, attr: str) -> str | None:
        return self._spans.get(attr)

    def __getattr__(self, attr):
        val = getattr(self._inner, attr)
        name = self._span_name(attr)
        if name is None or not callable(val):
            return val
        tracer = self._tracer

        def call(*a, **kw):
            with tracer.span(name, call=attr) as sp:
                out = val(*a, **kw)
                if isinstance(out, int) and not isinstance(out, bool):
                    sp.attrs["result"] = out
                return out

        return call

    def __setattr__(self, attr, value):
        setattr(self._inner, attr, value)


class TracedSource(_Proxy):
    _spans = {
        "introspect": "sources.introspect", "source_objects": "sources.introspect",
        "read_table": "sources.read", "count": "sources.probe", "min_max": "sources.probe",
    }


class TracedTarget(_Proxy):
    _spans = {
        "write": "sink.write", "count": "plans.validation", "delete_where": "sink.delete",
        "query": "ddl.probe",
    }

    def _span_name(self, attr: str) -> str | None:
        if attr == "execute":
            cur = self._tracer.current()
            return "ddl.create.stmt" if cur is not None and cur.name == "ddl.create" else "ddl.replay"
        return super()._span_name(attr)


class TracedCheckpoint(_Proxy):
    def _span_name(self, attr: str) -> str | None:
        return None if attr.startswith("_") else "plans.checkpoint"


class TracedPipeline(MigrationPipeline):
    """``MigrationPipeline`` with a span around each step it owns."""

    def __init__(self, *args, tracer: Tracer, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.source = TracedSource(self.source, tracer)
        self.target = TracedTarget(self.target, tracer)
        self.checkpoint = TracedCheckpoint(self.checkpoint, tracer)
        self.chunk_plans = []

    def run(self):
        with self.tracer.span("run"):
            return super().run()

    def plan_advice(self, tables):
        with self.tracer.span("plans.advisor"):
            return super().plan_advice(tables)

    def create_schema_objects(self, tables):
        with self.tracer.span("ddl.create"):
            return super().create_schema_objects(tables)

    def chunk_plan_for(self, table):
        with self.tracer.span("plans.chunk", table=table.pg_name):
            plan = super().chunk_plan_for(table)
        self.chunk_plans.append(plan)
        return plan

    def move_table(self, table, parents):
        with self.tracer.span("pipeline.move", table=table.pg_name) as sp:
            res = super().move_table(table, parents)
            sp.attrs.update(rows=res.rows_written, removed=res.orphans_removed)
            return res

    def clean_orphans(self, df, table, parents, self_snapshot=None):
        with self.tracer.span("operators.orphans.clean", table=table.pg_name):
            return super().clean_orphans(df, table, parents, self_snapshot)

    def cleaned_source_df(self, table, parents):
        with self.tracer.span("pipeline.parent_cache", table=table.pg_name):
            return super().cleaned_source_df(table, parents)
