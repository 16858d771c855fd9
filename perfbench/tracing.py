"""In-memory spans around the calls the benchmark makes into each layer.

A span records its name, layer, start, end, parent span and the id of
the operation (one benchmark round) it belongs to. Each span runs its
Spark jobs under a job group of its own, so the jobs, tasks and failed
tasks it launched are read back from ``SparkContext.statusTracker()``
when it closes — counts that repeat exactly from run to run. A job
belongs to the innermost open span (its *self* counts); a span's
inclusive counts add those of its descendants.

Spans inside the package are not possible without editing it, so
:func:`instrument` wraps the package's module-level functions for the
length of a traced run and restores them afterwards.
"""

from __future__ import annotations

import contextlib
import dataclasses
import statistics
import time
from typing import Any, Callable, Optional

LAYERS = ("session", "ingest", "catalog", "service", "profile", "waste", "reachability", "queries")


@dataclasses.dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start: float
    parent: Optional[int]
    op_id: Optional[int]
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    calls: int = 0  # calls counted by ``instrument(..., count=...)``

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans when enabled; every method is a no-op otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op_id: Optional[int] = None

    def attach(self, sc) -> None:
        self.sc = sc

    def begin(self, name: str, layer: str) -> Optional[Span]:
        if not self.enabled:
            return None
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(len(self.spans), name, layer, time.perf_counter(), parent, self.op_id)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def end(self, span: Optional[Span]) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order (open: {popped.name})")
        self._set_group(self._stack[-1] if self._stack else None)
        self._count_jobs(span)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.begin(name, layer)
        try:
            yield s
        finally:
            self.end(s)

    def _set_group(self, span: Optional[Span]) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.span_id}", span.name)

    def _count_jobs(self, span: Span) -> None:
        """Self job/task counts of *span*, read once its jobs are final.
        The status listener runs asynchronously, so wait (bounded) until
        every job of the group reports a terminal status."""
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(f"perfbench-{span.span_id}")
        deadline = time.perf_counter() + 2.0
        infos = [st.getJobInfo(j) for j in job_ids]
        while any(i is None or i.status not in ("SUCCEEDED", "FAILED") for i in infos):
            if time.perf_counter() > deadline:
                break
            time.sleep(0.002)
            infos = [st.getJobInfo(j) for j in job_ids]
        span.jobs = len(job_ids)
        for info in infos:
            for sid in (info.stageIds if info else ()):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    span.tasks += stage.numCompletedTasks
                    span.failed_tasks += stage.numFailedTasks

    # -- derived views ------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_time(self, span: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the part of it that child spans cover (children
        of one span run one after another, so their durations add)."""
        return span.duration - sum(c.duration for c in kids.get(span.span_id, ()))

    def inclusive(self, span: Span, kids: dict[int, list[Span]], attr: str) -> int:
        return getattr(span, attr) + sum(self.inclusive(c, kids, attr) for c in kids.get(span.span_id, ()))

    def dump(self) -> list[dict]:
        return [dataclasses.asdict(s) for s in self.spans]


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class _TimedFrame:
    """A DataFrame stand-in whose ``collect()`` closes the span that the
    call producing it opened — so the span covers build + execution for
    the package functions that return a lazy DataFrame."""

    def __init__(self, df, tracer: Tracer, span: Optional[Span]):
        self._df, self._tracer, self._span = df, tracer, span

    def collect(self):
        try:
            return self._df.collect()
        finally:
            self._tracer.end(self._span)

    def __getattr__(self, item):
        return getattr(self._df, item)


def _wrap(fn: Callable, tracer: Tracer, name: str, layer: str, lazy: bool, count) -> Callable:
    def wrapper(*args, **kwargs):
        span = tracer.begin(name, layer)
        if span is None:
            return fn(*args, **kwargs)
        try:
            if count is None:
                out = fn(*args, **kwargs)
            else:
                calls = [0]
                with count_calls(*count, calls):
                    out = fn(*args, **kwargs)
                span.calls = calls[0]
        except BaseException:
            tracer.end(span)
            raise
        if lazy:
            return _TimedFrame(out, tracer, span)
        tracer.end(span)
        return out

    wrapper.__wrapped__ = fn
    return wrapper


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the package functions the workloads reach, for one traced run.

    Functions the tools import at call time are patched where they are
    looked up; the waste checks are patched both in their module and in
    the runner's dispatch list, so the runner's identity test on
    ``check_duplicate_strings`` still holds."""
    if not tracer.enabled:
        yield
        return
    try:  # the concrete class behind pyspark.sql.DataFrame in classic mode
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from heapdumpstardiver_spark import analytics, interop
    from heapdumpstardiver_spark.analytics import profile, reachability, runner, waste
    from heapdumpstardiver_spark.ingest import convert

    saved: list[tuple[Any, str, Any]] = []

    def patch(obj, attr: str, name: str, layer: str, lazy: bool = False, count=None) -> Callable:
        orig = getattr(obj, attr)
        saved.append((obj, attr, orig))
        new = _wrap(orig, tracer, name, layer, lazy, count)
        setattr(obj, attr, new)
        return new

    patch(convert, "build_index", "ingest.build_index", "ingest")
    patch(interop, "open_warehouse", "catalog.open_warehouse", "catalog")
    for fn in ("run_summary", "run_top_types", "run_category_breakdown",
               "run_byte_array_distribution", "run_large_byte_arrays"):
        patch(profile, fn, f"profile.{fn}", "profile", lazy=True)
    patch(analytics, "run_waste_analysis", "waste.run_waste_analysis", "waste")
    saved.append((runner, "ALL_CHECKS", list(runner.ALL_CHECKS)))
    for i, (check, tier) in enumerate(runner.ALL_CHECKS):
        short = check.__name__.removeprefix("check_")
        runner.ALL_CHECKS[i] = (patch(waste, check.__name__, f"waste.{short}", "waste"), tier)
    patch(analytics, "liveness_summary", "reachability.liveness_summary", "reachability", lazy=True)
    patch(analytics, "unreachable_by_type", "reachability.unreachable_by_type", "reachability", lazy=True)
    # one DataFrame.count() per BFS round: the calls give the round count
    patch(reachability, "reachable_from_roots", "reachability.reachable_from_roots", "reachability",
          count=(DataFrame, "count"))
    patch(reachability, "heap_edges", "reachability.heap_edges", "reachability")
    try:
        yield
    finally:
        for obj, attr, orig in reversed(saved):
            if attr == "ALL_CHECKS":
                runner.ALL_CHECKS[:] = orig
            else:
                setattr(obj, attr, orig)


@contextlib.contextmanager
def count_calls(cls, method: str, counter: list):
    """Count calls to ``cls.method`` (e.g. the per-round ``count()`` of
    the reachability BFS) while the block runs."""
    orig = getattr(cls, method)

    def counted(self, *a, **k):
        counter[0] += 1
        return orig(self, *a, **k)

    setattr(cls, method, counted)
    try:
        yield
    finally:
        setattr(cls, method, orig)
