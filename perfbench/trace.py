"""Outside-in tracer: spans around calls into the engine's public
functions, and Spark's own job, stage and planning counters read from the
status store under one job group per op.

Nothing here changes the engine. Spans come from wrapping module
attributes for the life of a ``Tracer``; counters come from
``SparkContext.statusTracker()``, the status store behind it and
``QueryExecution.tracker()``. Spans stay in memory until ``dump``."""

from __future__ import annotations

import functools
import inspect
import json
import time
from collections import Counter
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

from perfbench.stats import Span, union_length

# Status-store stage fields summed per op, by the name the benchmark
# publishes. inputBytes is left out: it reads tens of KB for scans of
# multi-MB parquet files, so it does not measure bytes scanned.
# inputRecords equals the scanned tables' row counts, and shuffle read
# bytes track shuffle write bytes once the listener bus has drained.
_STAGE_FIELDS = {
    "exec_run_s": ("executorRunTime", 1e-3),
    "exec_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "input_records": ("inputRecords", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


@dataclass
class OpCounters:
    """What the status store and planner report for one op."""

    jobs: int = 0
    build_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_span_s: float = 0.0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)  # epoch seconds
    phases_ms: dict[str, float] = field(default_factory=dict)
    stage_totals: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Records spans and per-op Spark counters. ``bookkeeping_s`` is the
    time spent inside the tracer itself, the overhead it adds to a run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.op_id = ""
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------------- spans
    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``close``.
        Nested calls to wrapped functions of the same span name record only
        the outermost call, so recursion inside a layer is not double-counted."""
        original = getattr(owner, attr)
        tracer = self
        # a generator does its work while iterated: run it to the end inside
        # the span (callers of the wrapped generators never prune the walk)
        call = (
            (lambda *a, **k: iter(list(original(*a, **k))))
            if inspect.isgeneratorfunction(original)
            else original
        )

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if tracer._stack and tracer.spans[tracer._stack[-1]].name == name:
                return call(*args, **kwargs)
            with tracer.span(name):
                return call(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def close(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def op_spans(self, op_id: str) -> list[Span]:
        return [s for s in self.spans if s.op_id == op_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")

    # ------------------------------------------------------------- counters
    def begin_op(self, op_id: str, description: str) -> None:
        t0 = time.perf_counter()
        self.op_id = op_id
        self.spark.sparkContext.setJobGroup(op_id, description)
        self.bookkeeping_s += time.perf_counter() - t0

    def end_op(self, df=None, fetch_start_ms: float | None = None) -> OpCounters:
        """Counters of the jobs run under the current op's job group.
        ``df`` supplies Catalyst phase times; jobs submitted before
        ``fetch_start_ms`` (epoch ms) count as started while building the query."""
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = OpCounters()
        intervals = []
        stage_ids: set[int] = set()
        for job_id in sc.statusTracker().getJobIdsForGroup(self.op_id):
            job = store.job(job_id)
            out.jobs += 1
            submitted = job.submissionTime()
            completed = job.completionTime()
            if submitted.isDefined() and completed.isDefined():
                start_ms = submitted.get().getTime()
                intervals.append((start_ms / 1e3, completed.get().getTime() / 1e3))
                if fetch_start_ms is not None and start_ms < fetch_start_ms:
                    out.build_jobs += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        out.job_intervals = intervals
        out.job_span_s = union_length(intervals)
        totals: Counter = Counter()
        for sid in stage_ids:
            try:
                stage = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never attempted: skipped by shuffle reuse
                continue
            if stage.status().toString() != "COMPLETE":
                continue
            out.stages += 1
            out.tasks += stage.numCompleteTasks()
            for name, (getter, scale) in _STAGE_FIELDS.items():
                totals[name] += getattr(stage, getter)() * scale
        out.stage_totals = dict(totals)
        if df is not None:
            phases = df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                if phases.contains(phase):
                    out.phases_ms[phase] = float(phases.apply(phase).durationMs())
        self.bookkeeping_s += time.perf_counter() - t0
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> Span:
        tr = self.tracer
        parent = tr._stack[-1] if tr._stack else None
        self.span = Span(len(tr.spans), self.name, time.perf_counter(), 0.0, parent, tr.op_id)
        tr.spans.append(self.span)
        tr._stack.append(self.span.id)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        self.tracer._stack.pop()
