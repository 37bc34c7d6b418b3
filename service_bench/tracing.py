"""In-memory spans around the program's public functions, from outside.

``Tracer.install()`` wraps the module attributes and methods the service
and HTTP layers call (for example ``g_data_pipeline_spark.service.land_csv``,
the name ``service.py`` imported), so no program file changes. Each span
records its name, trace id, parent span, start and end; the spans of one
request share a trace id, and a worker job continues the trace of the upload
that queued it. A layer's self time is its span's duration minus the part of
that interval its child spans cover. Spark job and task counts come from
``SparkContext.statusTracker()``: a query's jobs through a job group per
trace; a profile call's jobs as the jobs that appear, during the call, in
its thread's job group or with no group (the profiler's pool threads carry
none). Scan counts come from ``operators.runprofile.executed_metrics`` on
the plans the compiler returned. ``Tracer(enabled=False)`` records nothing and wraps
nothing; the untraced runs use it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    trace: int
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    thread: str = ""


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.query_plans: list[tuple[int, object]] = []  # (trace, limited plan)
        self.job_trace: dict[str, int] = {}  # job id -> trace of its upload
        self.enqueued: dict[str, float] = {}  # job id -> submit time
        self.queue_waits: list[tuple[float, float]] = []  # (when, wait)
        self.queue_depths: list[tuple[float, int]] = []  # (when, depth at submit)
        self.profile_jobs: list[tuple[float, list[int]]] = []  # (call start, job ids)
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self.sc = None

    # -- spans ----------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, trace: int | None = None, group: bool = False):
        """Record one span. A root span with ``group`` tags the Spark jobs
        its thread runs with a job group named after its trace."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if parent is not None:
            trace = parent.trace
        elif trace is None:
            trace = next(self._ids)
        s = Span(trace, next(self._ids), parent.id if parent else None, name, 0.0,
                 thread=threading.current_thread().name)
        root = parent is None and group and self.sc is not None
        if root:
            self.sc.setJobGroup(f"t{trace}", name)
        stack.append(s)
        self._add_bookkeeping(time.perf_counter() - t0)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            t1 = time.perf_counter()
            stack.pop()
            if root:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)
            self._add_bookkeeping(time.perf_counter() - t1)

    def count(self, key: str, n: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counts[key] += n

    def _add_bookkeeping(self, dt: float) -> None:
        with self._lock:
            self.bookkeeping_s += dt

    # -- wrapping -------------------------------------------------------------

    def _wrap(self, owner, attr: str, name, before=None, after=None, group=False):
        """Replace ``owner.attr`` by a spanned wrapper. ``name`` may be a
        function of the call's arguments; ``before(args)`` runs first and
        may return the trace a root span joins; ``after(result, args)``
        records counts."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span_name = name(args) if callable(name) else name
            trace = before(args) if before else None
            with tracer.span(span_name, trace=trace, group=group) as s:
                result = orig(*args, **kwargs)
            if s is not None:
                tracer._local.last_trace = s.trace
            if after is not None:
                after(result, args)
            return result

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, raw))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._restore):
            setattr(owner, attr, raw)
        self._restore.clear()

    def install(self, sc) -> None:
        """Wrap the layer boundaries the service, HTTP and worker paths cross."""
        if not self.enabled:
            return
        self.sc = sc
        from g_data_pipeline_spark import http_api, jobstore, service, storage, worker
        from g_data_pipeline_spark.ir import StructuredQuery
        from g_data_pipeline_spark.sources import ingest

        svc = service.DataPipelineService
        self._wrap(svc, "upload_csv", "service.upload_csv",
                   after=lambda job_id, a: self._note_upload(job_id))
        self._wrap(svc, "process_job", "service.process_job",
                   before=self._job_started, group=True)
        self._wrap(svc, "get_insights", "service.get_insights")
        self._wrap(svc, "query", "service.query", group=True)
        self._wrap(svc, "dataset", "service.dataset")
        self._wrap(storage.LocalObjectStore, "put_bytes", "storage.put_bytes")
        self._wrap(storage.TTLCache, "get", "storage.cache_get",
                   after=lambda r, a: self.count("cache_get.hit" if r is not None else "cache_get.miss"))
        self._wrap(jobstore.InMemoryJobStore, "transition", "jobstore.transition")
        self._wrap(service, "land_csv", "ingest.land_csv")
        self._wrap(ingest, "read_csv", "ingest.read_csv")
        self._wrap(ingest, "coerce_types", "ingest.coerce_types")
        self._wrap(ingest, "plan_coercions", "ingest.plan_coercions",
                   after=self._note_coercions)
        self._wrap(service, "profile", "profiler.profile",
                   before=self._profile_started, after=self._profile_ended)
        self._wrap(service, "format_insights", "profiler.format_insights")
        self._wrap(service, "classify_columns", "profiler.classify_columns")
        self._wrap(service, "parse_llm_response", "nl.parse_llm_response")
        self._wrap(service, "rule_based_translate", "nl.rule_based_translate")
        self._wrap(StructuredQuery, "from_json", "ir.from_json")
        self._wrap(service, "compile_query", "compiler.compile_query",
                   after=lambda df, a: self._capture_plan(df))
        self._wrap(http_api.PipelineApp, "__call__",
                   lambda a: "http_api.request." + _route(a[1]))
        self._wrap(worker.JobWorker, "submit", "worker.submit", before=self._note_submit)

    def _note_upload(self, job_id: str) -> None:
        self.job_trace[job_id] = self._local.last_trace

    def _job_started(self, args) -> int | None:
        """process_job(self, job_id) starts: record its queue wait and
        continue the trace of the upload that queued it."""
        job_id = args[1]
        with self._lock:
            t = self.enqueued.pop(job_id, None)
            if t is not None:
                now = time.perf_counter()
                self.queue_waits.append((now, now - t))
        return self.job_trace.get(job_id)

    def _note_submit(self, args) -> None:
        """submit(self, job_id) is called: stamp the enqueue time first (the
        worker may take the job before submit returns) and the depth the
        queue will have with this job in it."""
        worker, job_id = args
        now = time.perf_counter()
        with self._lock:
            self.enqueued[job_id] = now
            self.queue_depths.append((now, worker.jobs.qsize() + 1))

    def _profile_jobs_now(self) -> set[int]:
        """Job ids of the calling thread's job group and of no group."""
        tracker = self.sc.statusTracker()
        group = self.sc.getLocalProperty("spark.jobGroup.id")
        ids = set(tracker.getJobIdsForGroup(None))
        if group is not None:
            ids.update(tracker.getJobIdsForGroup(group))
        return ids

    def _profile_started(self, args) -> None:
        t0 = time.perf_counter()
        self._local.profile0 = (t0, self._profile_jobs_now())
        self._add_bookkeeping(time.perf_counter() - t0)

    def _profile_ended(self, result, args) -> None:
        t0 = time.perf_counter()
        start, before = self._local.profile0
        new = sorted(self._profile_jobs_now() - before)
        with self._lock:
            self.profile_jobs.append((start, new))
        self._add_bookkeeping(time.perf_counter() - t0)

    def _note_coercions(self, decisions, args) -> None:
        from pyspark.sql import types as T

        probed = sum(isinstance(f.dataType, T.StringType) for f in args[0].schema.fields)
        self.count("coerce.probed", probed)
        self.count("coerce.coerced", len(decisions))

    def _capture_plan(self, df) -> None:
        """Keep the plan the service collects (``compiled.limit(n)``), so its
        executed metrics can be read once the run is over."""
        stack = self._local.__dict__.get("stack") or []
        trace = stack[-1].trace if stack else 0
        orig_limit = df.limit

        def limit(n):
            limited = orig_limit(n)
            with self._lock:
                self.query_plans.append((trace, limited))
            return limited

        df.limit = limit

    # -- results --------------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _route(environ: dict) -> str:
    path = environ.get("PATH_INFO", "")
    if path == "/upload":
        return "upload"
    if path.startswith("/insights/"):
        return "insights"
    if path == "/api/conversation/query":
        return "query"
    return "other"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = (s.end - s.start) - covered
    return out


def completed_tasks(tracker, job_ids) -> int:
    """Tasks the given Spark jobs completed, from the status tracker."""
    tasks = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        for st in (info.stageIds if info else []):
            si = tracker.getStageInfo(st)
            tasks += si.numCompletedTasks if si else 0
    return tasks
