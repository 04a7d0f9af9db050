"""Spans and per-span Spark counters, recorded from the benchmark's side.

A span is opened around each call the benchmark makes into a layer of the
engine. Every span runs under its own Spark job group, so the jobs it
launched (and only those: a child span's jobs carry the child's group) can
be read back from the status tracker and the status store when the span's
unit of work is done. Nothing in the engine package is edited; the ETL
stages are found by wrapping the module attributes ``pipeline.run_etl``
reaches and the DataFrame actions it issues itself (see ``etl_stages``).
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from pyspark.sql.classic.dataframe import DataFrame  # the class sessions build

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    run: str
    group: str
    parent: Span | None
    start: float
    end: float = 0.0
    children_s: float = 0.0
    jobs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


class Py4JCounter:
    """Counts py4j round trips by wrapping the gateway clients'
    ``send_command`` (both the pinned-thread and the classic client)."""

    def __init__(self) -> None:
        self.calls = 0
        self._saved: list = []

    def __enter__(self) -> Py4JCounter:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            orig = cls.send_command

            def counted(conn, *a, _orig=orig, **kw):
                self.calls += 1
                return _orig(conn, *a, **kw)

            self._saved.append((cls, orig))
            cls.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved.clear()


class Tracer:
    """Records spans in memory; one job group per span."""

    def __init__(self, spark, tag: str) -> None:
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[Span] = []
        self.stack: list[Span] = []

    @property
    def current(self) -> Span | None:
        return self.stack[-1] if self.stack else None

    @contextlib.contextmanager
    def span(self, name: str, run: str | None = None):
        parent = self.current
        s = Span(name=name, run=run or (parent.run if parent else name),
                 group=f"{self.tag}-{len(self.spans)}", parent=parent,
                 start=time.perf_counter())
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                parent.children_s += s.duration
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def collect_jobs(self, spans: list[Span]) -> None:
        """Fill ``span.jobs`` from the status store. Call once the spans'
        work is done; the listener bus is drained first so the store holds
        every finished task."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in spans:
            agg = {"jobs": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
                   "shuffle_write_mb": 0.0, "spill_mb": 0.0}
            for job_id in tracker.getJobIdsForGroup(s.group):
                agg["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else []):
                    attempts = store.stageData(stage_id, False, None, False, None)
                    for i in range(attempts.size()):
                        st = attempts.apply(i)
                        agg["tasks"] += st.numCompleteTasks()
                        agg["task_s"] += st.executorRunTime() / 1000.0
                        agg["gc_s"] += st.jvmGcTime() / 1000.0
                        agg["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                        agg["spill_mb"] += (st.memoryBytesSpilled()
                                            + st.diskBytesSpilled()) / MB
            s.jobs = agg


def subtree(span: Span, spans: list[Span]) -> list[Span]:
    """``span`` and every span below it."""
    out = []
    for s in spans:
        p = s
        while p is not None and p is not span:
            p = p.parent
        if p is span:
            out.append(s)
    return out


def total(spans: list[Span], key: str) -> float:
    return sum(s.jobs.get(key, 0) for s in spans)


@contextlib.contextmanager
def etl_stages(tracer: Tracer, pipeline):
    """Open a span per ETL stage while ``pipeline.run_etl`` runs.

    Stage spans come from two kinds of wrapper:

    * the functions ``run_etl`` reaches through ``pipeline``'s module
      attributes: ``select_new`` (J1), ``_stage_ids`` (stage_ids),
      ``append_delta`` (L1, which also runs the E3 fetch and the T
      transform, one lazy plan) and ``overwrite_dim`` (L2);
    * the DataFrame actions ``count``, ``collect`` and ``localCheckpoint``
      that ``run_etl`` issues itself. They belong to E1 until the playlist
      ids are collected, to E2 from that collect on, and to J1 once
      ``select_new`` has built the delta.

    An action issued from inside a stage span stays in that span. Work in
    ``run_etl`` outside every stage span is the run's own self time.
    """
    state = {"stage": "E1"}
    run_level = lambda: tracer.current is not None and tracer.current.parent is None  # noqa: E731

    def stage_fn(label, fn, next_stage=None):
        def wrapped(*a, **kw):
            if next_stage:
                state["stage"] = next_stage
            with tracer.span(label):
                return fn(*a, **kw)
        return wrapped

    def action(name, fn):
        def wrapped(self, *a, **kw):
            if not run_level():
                return fn(self, *a, **kw)
            if name == "collect" and state["stage"] == "E1":
                state["stage"] = "E2"
            with tracer.span(state["stage"]):
                return fn(self, *a, **kw)
        return wrapped

    patches = [
        (pipeline, "select_new", stage_fn("J1", pipeline.select_new, "J1")),
        (pipeline, "_stage_ids", stage_fn("stage_ids", pipeline._stage_ids)),
        (pipeline, "append_delta", stage_fn("L1", pipeline.append_delta)),
        (pipeline, "overwrite_dim", stage_fn("L2", pipeline.overwrite_dim)),
    ] + [(DataFrame, n, action(n, getattr(DataFrame, n)))
         for n in ("count", "collect", "localCheckpoint")]
    saved = [(obj, n, getattr(obj, n)) for obj, n, _ in patches]
    for obj, n, fn in patches:
        setattr(obj, n, fn)
    try:
        yield
    finally:
        for obj, n, fn in saved:
            setattr(obj, n, fn)
