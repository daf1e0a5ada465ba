"""Spans around the engine's public functions, and per-job Spark metrics.

A ``Tracer`` records one span per call it wraps: name, start, end, parent
and op id, kept in memory until the run ends. Each span sets a Spark job
group, so the jobs it submits can be attributed to it. Jobs submitted from
threads the span did not start (the engine's ``concurrency.subtree_pool``)
carry no group of this op; they are attributed by submission time to the
innermost span open at that moment.

Spark metrics are read after each op from the status store, which works
with the UI off: ``sc._jsc.sc().statusStore()``.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field
from typing import Any, Callable


# Every per-layer metric a traced run reports, with its unit. Values are per
# op, the median over the timed ops; a layer a workload bypasses reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "bench_logs.list_ms": "ms",
    "bench_logs.list_jobs": "count",
    "bench_logs.list_tasks": "count",
    "bench_logs.files_read": "count",
    "bench_logs.read_tasks": "count",
    "bench_logs.input_bytes": "bytes",
    "json_sink.write_ms": "ms",
    "json_sink.catalog_ms": "ms",
    "json_sink.files_written": "count",
    "json_sink.bytes_written": "bytes",
    "compare.construct_ms": "ms",
    "compare.action_ms": "ms",
    "compare.files_read": "count",
    "compare.rows_read": "rows/row",
    "query.construct_ms": "ms",
    "query.plan_ms": "ms",
    "query.action_ms": "ms",
    "query.construct_jobs": "count",
    "query.action_jobs": "count",
    "query.exchanges": "count",
    "caching.cleared": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.idle_share": "ratio",
    "host.steal_share": "ratio",
    "trace.op_p50_ms": "ms",
    "trace.span_coverage": "ratio",
}


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float  # time.time(), the clock the status store uses
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class Job:
    id: int
    span: int | None
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    read_tasks: int = 0  # tasks of stages that read input
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Tracer:
    spark: Any
    spans: list[Span] = field(default_factory=list)
    op: int = -1
    _stack: list[Span] = field(default_factory=list)
    _last_job: int = -1

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.op, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(f"pb-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"pb-{parent.id}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module: Any, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper for the rest of the run."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, wrapper)

    def call(self, name: str, fn: Callable, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def mark_jobs_seen(self) -> None:
        """Skip every job submitted so far (set-up and warm-up jobs)."""
        jobs = self._store().jobsList(None)
        for i in range(jobs.size()):
            self._last_job = max(self._last_job, jobs.apply(i).jobId())

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def collect_jobs(self, op: int) -> list[Job]:
        """The jobs submitted since the last call, attributed to ``op``'s spans."""
        spans = self.op_spans(op)
        by_group = {f"pb-{s.id}": s.id for s in spans}
        store = self._store()
        jobs = store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            if jd.jobId() <= self._last_job:
                continue
            sub = jd.submissionTime()
            submitted = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
            group = jd.jobGroup()
            span = by_group.get(group.get()) if group.isDefined() else None
            if span is None:
                open_then = [s for s in spans if s.start <= submitted <= s.end]
                span = max(open_then, key=lambda s: s.start).id if open_then else None
            job = Job(jd.jobId(), span)
            ids = jd.stageIds()
            for k in range(ids.size()):
                try:
                    sd = store.lastStageAttempt(ids.apply(k))
                except Exception:  # noqa: BLE001 - a stage the store evicted
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                job.stages += 1
                job.tasks += sd.numTasks()
                job.failed_tasks += sd.numFailedTasks()
                job.run_ms += sd.executorRunTime()
                job.cpu_ms += sd.executorCpuTime() / 1e6
                job.gc_ms += sd.jvmGcTime()
                job.input_bytes += sd.inputBytes()
                job.input_records += sd.inputRecords()
                if sd.inputBytes() > 0:
                    job.read_tasks += sd.numTasks()
                job.shuffle_write_bytes += sd.shuffleWriteBytes()
                job.spill_bytes += sd.diskBytesSpilled()
            out.append(job)
        if out:
            self._last_job = max(j.id for j in out)
        return out

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()


def self_ms(spans: list[Span]) -> dict[str, float]:
    """Each span name's self time: its duration minus what its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = sum(c.ms for c in children.get(s.id, []))
        out[s.name] = out.get(s.name, 0.0) + s.ms - covered
    return out


def count_exchanges(df: Any) -> int:
    """Exchange nodes in the executed plan (the AQE initial plan)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = 0
    for line in plan.splitlines():
        node = line.lstrip(" :+-")
        if node.startswith(("Exchange ", "BroadcastExchange ", "ShuffleExchange ")):
            n += 1
    return n


def scan_files(df: Any) -> int:
    """Files the file scans of ``df``'s executed plan read (their
    ``numFiles`` metric), summed over the scans; call after the action.
    Walks into adaptive plans and query stages."""
    stack = [df._jdf.queryExecution().executedPlan()]
    n = 0
    while stack:
        plan = stack.pop()
        kind = plan.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(plan.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(plan.plan())
            continue
        if kind == "FileSourceScanExec":
            metrics = plan.metrics()
            if metrics.contains("numFiles"):
                n += metrics.apply("numFiles").value()
        children = plan.children()
        for k in range(children.size()):
            stack.append(children.apply(k))
    return n
