"""Spans around calls into each pdx_spark layer, joined with Spark's own
job, stage and SQL metrics.

The engine is not edited: `install()` wraps the public functions of each
layer module at run time. Every span sets a Spark job group
(`pb<span id>`) on its thread, so the REST API's job list maps jobs back
to spans. Jobs launched from the engine's own pool threads carry no
group; they go to the deepest span open when they were submitted, and
`jobs_by_window` counts them. A wrapped function that only builds a lazy
plan shows near-zero wall time: the executor work lands on the span
whose action ran it.
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. Disabled, every span is a no-op; `paused()` runs a
    block untraced inside a traced run (the overhead comparison)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = enabled
        self.spans: list[Span] = []
        self._sc = None
        self._ids = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread().ident
        self._main_stack: list[Span] = []

    def attach(self, sc) -> None:
        self._sc = sc

    def reset(self) -> None:
        self.spans = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def paused(self):
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    @contextmanager
    def span(self, name: str, **attrs):
        if not (self.enabled and self.active):
            yield None
            return
        stack = self._stack()
        # a pool thread's first span hangs under the main thread's
        # innermost open span
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            self._ids += 1
            sp = Span(self._ids, name, parent.id if parent else None,
                      time.time(), attrs=dict(attrs))
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setLocalProperty("spark.jobGroup.id", f"pb{sp.id}")
        stack.append(sp)
        try:
            yield sp
        except BaseException as e:
            sp.attrs["error"] = type(e).__name__
            raise
        finally:
            sp.end = time.time()
            stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(sp)


def _wrap(tracer: Tracer, owner, attr: str, name: str, on_call=None):
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*a, **kw):
        with tracer.span(name) as sp:
            if sp is not None and on_call is not None:
                on_call(sp, a, kw)
            return fn(*a, **kw)

    setattr(owner, attr, traced)


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points of pdx_spark, once per process."""
    from pdx_spark import fs
    from pdx_spark.operators import corpus, indexer, maintenance, searcher

    _wrap(tracer, corpus, "assign_doc_ids", "corpus.assign_doc_ids")
    _wrap(tracer, corpus, "doc_postings", "corpus.doc_postings")
    for mod in (fs, indexer, maintenance, searcher):
        if hasattr(mod, "verify_single_rowgroup"):
            _wrap(tracer, mod, "verify_single_rowgroup",
                  "fs.verify_single_rowgroup")
    _wrap(tracer, indexer, "stat_artifacts_local",
          "indexer.stat_artifacts_local")
    _wrap(tracer, fs.LocalFS, "parquet_files", "fs.parquet_files")
    _wrap(tracer, fs.LocalFS, "write_text_atomic", "fs.write_text_atomic",
          on_call=lambda sp, a, kw: sp.attrs.update(
              bytes=len((a[2] if len(a) > 2 else kw["data"]).encode())))
    _wrap(tracer, indexer.Indexer, "build", "indexer.build")
    _wrap(tracer, searcher.Searcher, "__init__", "searcher.load")
    _wrap(tracer, searcher.Searcher, "search_batch", "searcher.search_batch")
    _wrap(tracer, searcher.Searcher, "_idf_lookup", "searcher.idf")
    _wrap(tracer, searcher.Searcher, "_plan_slice", "searcher.plan_slice")
    for m in ("append", "delete", "compact_targeted", "compact"):
        _wrap(tracer, maintenance.Maintainer, m, f"maintenance.{m}")
    _wrap(tracer, maintenance, "_decode_segments_to_postings",
          "maintenance.decode_segments")


# ---- Spark REST API ---------------------------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def _ts(s: str | None) -> float | None:
    """'2026-01-01T00:00:00.123GMT' -> epoch seconds."""
    if not s:
        return None
    d = _dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=_dt.timezone.utc).timestamp()


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}


def _size(value: str) -> float:
    """Spark SQL size metric text -> bytes (the total, first figure)."""
    m = _SIZE.search(value or "")
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] if m else 0.0


def fetch_rest(sc, settle: float = 0.3, timeout: float = 20.0) -> dict:
    """Jobs, stages and SQL executions of this application, once the
    listener bus has caught up (no running job, stable count)."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline, last = time.time() + timeout, -1
    while True:
        jobs = _get(base + "/jobs")
        done = all(j["status"] != "RUNNING" for j in jobs)
        if (done and len(jobs) == last) or time.time() > deadline:
            break
        last = len(jobs)
        time.sleep(settle)
    stages = _get(base + "/stages")
    sql = _get(base + "/sql?details=true&planDescription=false"
               "&offset=0&length=100000")
    return {"jobs": jobs, "stages": stages, "sql": sql}


@dataclass
class Job:
    id: int
    group: str | None
    name: str
    description: str
    submit: float
    end: float
    first_task: float | None
    run_s: float = 0.0       # executor run time
    cpu_s: float = 0.0       # executor CPU time
    gc_s: float = 0.0
    tasks: int = 0
    failed_tasks: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    py_in_bytes: float = 0.0   # MapInArrow/ArrowEvalPython SQL metrics
    py_out_bytes: float = 0.0
    span: int | None = None
    by_window: bool = False


def jobs_from_rest(rest: dict) -> list[Job]:
    stages: dict[int, list[dict]] = {}
    for st in rest["stages"]:
        stages.setdefault(st["stageId"], []).append(st)
    py_by_job: dict[int, tuple[float, float]] = {}
    for ex in rest["sql"]:
        ids = (ex.get("successJobIds", []) + ex.get("failedJobIds", [])
               + ex.get("runningJobIds", []))
        if not ids:
            continue
        pin = pout = 0.0
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] == "data sent to Python workers":
                    pin += _size(m["value"])
                elif m["name"] == "data returned from Python workers":
                    pout += _size(m["value"])
        # an execution's metrics go to its first job; the rest get 0
        py_by_job[min(ids)] = (pin, pout)
    out, seen = [], set()
    for j in sorted(rest["jobs"], key=lambda j: j["jobId"]):
        submit = _ts(j.get("submissionTime"))
        if submit is None:
            continue
        job = Job(j["jobId"], j.get("jobGroup"), j.get("name", ""),
                  j.get("description", "") or "", submit,
                  _ts(j.get("completionTime")) or submit, None)
        # a stage listed by several jobs (a reused shuffle) ran once: it
        # counts for the first job that lists it
        for sid in j.get("stageIds", []):
            if sid in seen:
                continue
            seen.add(sid)
            for st in stages.get(sid, []):
                if st.get("status") == "SKIPPED":
                    continue
                job.run_s += st.get("executorRunTime", 0) / 1e3
                job.cpu_s += st.get("executorCpuTime", 0) / 1e9
                job.gc_s += st.get("jvmGcTime", 0) / 1e3
                job.tasks += st.get("numCompleteTasks", 0) \
                    + st.get("numFailedTasks", 0)
                job.failed_tasks += st.get("numFailedTasks", 0)
                job.input_bytes += st.get("inputBytes", 0)
                job.output_bytes += st.get("outputBytes", 0)
                job.shuffle_write_bytes += st.get("shuffleWriteBytes", 0)
                ft = _ts(st.get("firstTaskLaunchedTime"))
                if ft is not None:
                    job.first_task = ft if job.first_task is None \
                        else min(job.first_task, ft)
        job.py_in_bytes, job.py_out_bytes = py_by_job.get(job.id, (0.0, 0.0))
        out.append(job)
    return out


def attribute(spans: list[Span], jobs: list[Job]) -> list[Job]:
    """Map each job to a span: by job group, else to the deepest span
    open at its submission (pool-thread jobs). Jobs outside every span
    (untraced work) are dropped."""
    by_id = {s.id: s for s in spans}
    kept = []
    for j in jobs:
        if j.group and j.group.startswith("pb") and int(j.group[2:]) in by_id:
            j.span = int(j.group[2:])
        else:
            open_ = [s for s in spans if s.start <= j.submit <= s.end]
            if not open_:
                continue
            j.span = max(open_, key=lambda s: s.start).id
            j.by_window = True
        kept.append(j)
    return kept


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tree:
    """Spans plus attributed jobs, with subtree queries."""

    def __init__(self, spans: list[Span], jobs: list[Job]):
        self.spans = spans
        self.jobs = jobs
        self.by_id = {s.id: s for s in spans}
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        self.jobs_of: dict[int, list[Job]] = {}
        for j in jobs:
            self.jobs_of.setdefault(j.span, []).append(j)

    def subtree(self, sp: Span) -> list[Span]:
        out, stack = [], [sp]
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(self.children.get(s.id, []))
        return out

    def subtree_jobs(self, sp: Span) -> list[Job]:
        return [j for s in self.subtree(sp) for j in self.jobs_of.get(s.id, [])]

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        pool = self.subtree(within) if within is not None else self.spans
        return [s for s in pool if s.name == name]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part its child spans and its own Spark jobs
        cover; never negative."""
        iv = [(c.start, c.end) for c in self.children.get(sp.id, [])]
        iv += [(j.submit, j.end) for j in self.jobs_of.get(sp.id, [])]
        return sp.wall - union_len(iv, sp.start, sp.end)


def tree_from(tracer: Tracer, sc) -> Tree:
    spans = list(tracer.spans)
    jobs = attribute(spans, jobs_from_rest(fetch_rest(sc)))
    return Tree(spans, jobs)
