"""Layer tracing from outside the program.

`Tracer.install()` wraps the public calls named in LAYERS so each call
opens a span; `Tracer.uninstall()` puts every original function object
back, so an untraced run executes unmodified code. No program file is
changed and no Spark action is added: Spark counters come from the
scheduler's job-id counter and the application status store.

Job attribution is by submission window. Job ids are handed out in
submission order, so a span owns the ids issued between its entry and
its exit. A job inside nested spans of one thread belongs to the
innermost one. A job whose window is shared by spans of different
threads (a concurrent wave) belongs to the outermost span that contains
it, because its window cannot tell the wave's members apart.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (layer, module, attribute); "Class.method" wraps a method on the class.
# A module-level function is rebound in every yaml_pipe_spark module that
# imported it by name, so callers that resolve it from their own module
# namespace see the wrapper too.
LAYERS = [
    ("session.get_spark", "yaml_pipe_spark.session", "get_spark"),
    ("pipeline.run", "yaml_pipe_spark.plans.pipeline", "run_pipeline"),
    ("sources.load", "yaml_pipe_spark.sources.files", "LocalFileSource.load"),
    ("state.changed_rows", "yaml_pipe_spark.operators.state", "changed_rows"),
    ("state.commit_state", "yaml_pipe_spark.operators.state", "commit_state"),
    ("factory.filters.apply", "yaml_pipe_spark.plans.factory", "ExactDedupFilter.apply"),
    ("factory.filters.apply", "yaml_pipe_spark.plans.factory", "QualityFilter.apply"),
    ("chunkers.apply", "yaml_pipe_spark.plans.factory", "RecursiveCharacterChunker.apply"),
    ("embedders.apply", "yaml_pipe_spark.operators.embedders", "HashEmbedder.apply"),
    ("sinks.write", "yaml_pipe_spark.operators.sinks", "ParquetSink.write"),
    ("sinks.read", "yaml_pipe_spark.operators.sinks", "ParquetSink.read"),
    ("sinks.delete_sources", "yaml_pipe_spark.operators.sinks", "ParquetSink.delete_sources"),
    ("retrievers.ensure_fresh", "yaml_pipe_spark.retrievers", "ensure_fresh"),
    ("retrievers.topk", "yaml_pipe_spark.retrievers", "HybridRrfRetriever.topk"),
    ("retrievers.build", "yaml_pipe_spark.retrievers", "HybridRrfRetriever.build"),
    ("ann_index.is_stale", "yaml_pipe_spark.operators.ann_index", "IvfPqIndexStore.is_stale"),
    ("ann_index.is_stale", "yaml_pipe_spark.operators.ann_index", "IvfPqIndexStore.is_stale_for_fingerprint"),
    ("ann_index.build", "yaml_pipe_spark.operators.ann_index", "IvfPqIndexStore.build"),
    ("ann_index.forget", "yaml_pipe_spark.operators.ann_index", "IvfPqIndexStore.forget"),
    ("retrieval.is_stale", "yaml_pipe_spark.operators.retrieval", "Bm25IndexStore.is_stale"),
    ("retrieval.is_stale", "yaml_pipe_spark.operators.retrieval", "Bm25IndexStore.is_stale_for_fingerprint"),
    ("retrieval.build", "yaml_pipe_spark.operators.retrieval", "Bm25IndexStore.build"),
    ("retrieval.forget", "yaml_pipe_spark.operators.retrieval", "Bm25IndexStore.forget"),
    ("search.search_corpus", "yaml_pipe_spark.search", "search_corpus"),
    ("cli.eval", "yaml_pipe_spark.cli", "cmd_eval"),
    ("cli.forget", "yaml_pipe_spark.cli", "cmd_forget"),
    ("stream.drain", "yaml_pipe_spark.streaming.stream", "run_streaming_pipeline"),
]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    thread: int
    depth: int
    start: float  # time.time(), seconds
    end: float = 0.0
    job_lo: int = 0  # first job id issued inside the span
    job_hi: int = 0  # first job id issued after it
    timed: bool = False  # inside a timed operation (not setup)


@dataclass
class Tracer:
    """Collects spans; `job_counter()` returns the next job id."""

    job_counter: object = lambda: 0
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0  # bookkeeping time spent inside spans
    timed: bool = False  # set by the workload around timed operations
    _patches: list = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _main: int = field(default_factory=threading.get_ident)
    _main_stack: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = self._stack()
        # a pool thread's first span hangs under the span the main thread
        # has open: every wave is spawned from that call stack
        parents = stack or self._main_stack
        parent = parents[-1] if parents else None
        with self._lock:
            s = Span(
                sid=len(self.spans),
                name=name,
                parent=parent.sid if parent else None,
                thread=threading.get_ident(),
                depth=parent.depth + 1 if parent else 0,
                start=time.time(),
                timed=self.timed,
            )
            self.spans.append(s)
        s.job_lo = self.job_counter()
        stack.append(s)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            s.job_hi = self.job_counter()
            stack.pop()
            self.overhead_s += time.perf_counter() - t1

    # -- wrapping ------------------------------------------------------
    def wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer):
                return fn(*args, **kwargs)

        traced.__perfbench_original__ = fn
        return traced

    def install(self, layers=LAYERS) -> None:
        # import everything first, so no module binds a wrapper by name
        # after the scan below (uninstall could not find it then)
        mods = {m: importlib.import_module(m) for _, m, _ in layers}
        for layer, modname, attr in layers:
            mod = mods[modname]
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
                original = owner.__dict__[meth]
                self.patch(owner, meth, original, self.wrap(layer, original))
                continue
            original = getattr(mod, attr)
            wrapped = self.wrap(layer, original)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("yaml_pipe_spark") and (
                    getattr(m, attr, None) is original
                ):
                    self.patch(m, attr, original, wrapped)

    def patch(self, owner, attr: str, original, wrapped) -> None:
        """Replace owner.attr until uninstall()."""
        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- attribution -----------------------------------------------------
    def ancestors(self, s: Span) -> list[int]:
        out = []
        while s.parent is not None:
            out.append(s.parent)
            s = self.spans[s.parent]
        return out

    def owner_of(self, job: int) -> int | None:
        """Span a job id is attributed to (module docstring rule)."""
        cands = [s for s in self.spans if s.job_lo <= job < s.job_hi]
        if not cands:
            return None
        cands.sort(key=lambda s: s.depth)
        chain = all(
            cands[i].sid in self.ancestors(cands[i + 1])
            for i in range(len(cands) - 1)
        )
        return cands[-1].sid if chain else cands[0].sid

    def subtree(self, sid: int) -> set[int]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s.sid)
        out, todo = set(), [sid]
        while todo:
            x = todo.pop()
            out.add(x)
            todo.extend(kids.get(x, ()))
        return out

    def self_time(self, sid: int) -> float:
        """Wall time of a span minus the union of its children's
        intervals (children of a concurrent wave overlap)."""
        s = self.spans[sid]
        ivs = sorted(
            (max(c.start, s.start), min(c.end, s.end))
            for c in self.spans
            if c.parent == sid
        )
        return (s.end - s.start) - union_length(ivs)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class JobInfo:
    submit: float  # seconds since the epoch
    complete: float
    tasks: int  # completed tasks
    exec_s: float  # summed executor run time of the job's stages


class SparkCounters:
    """Job ids from the DAG scheduler's counter; job, stage and task
    figures from the application status store. Counting by id range
    stays exact past spark.ui.retainedJobs, which caps the job lists."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def next_job_id(self) -> int:
        return int(self._dag.numTotalJobs())

    def describe(self, lo: int, hi: int) -> list[str]:
        """Call site and final status of jobs lo..hi-1, so a job count
        that differs between runs names the job that differs."""
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty()
        out = []
        for j in range(lo, hi):
            try:
                jd = self._store.job(j)
            except Py4JJavaError:  # evicted from the store
                out.append("?")
                continue
            out.append(f"{jd.name()} {jd.status().toString()}")
        return out

    def jobs(self, lo: int, hi: int) -> dict[int, JobInfo]:
        """Job figures for ids lo..hi-1; call it soon after the jobs ran,
        before the store evicts them."""
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty()
        out: dict[int, JobInfo] = {}
        for j in range(lo, hi):
            try:
                jd = self._store.job(j)
            except Py4JJavaError:  # evicted from the store
                continue
            exec_ms = 0
            it = jd.stageIds().iterator()
            while it.hasNext():
                try:
                    exec_ms += int(self._store.lastStageAttempt(it.next()).executorRunTime())
                except Py4JJavaError:  # a stage that never ran has no attempt
                    pass
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            out[j] = JobInfo(
                submit=sub.get().getTime() / 1000.0,
                complete=done.get().getTime() / 1000.0,
                tasks=int(jd.numCompletedTasks()),
                exec_s=exec_ms / 1000.0,
            )
        return out


def layer_metrics(tracer: Tracer, jobs: dict[int, JobInfo]) -> dict[str, dict]:
    """Per-layer figures, each a mean per call, over the spans opened
    inside timed operations (session.get_spark: over every span).

    wall_s and self_s are inclusive and self time; jobs, tasks and exec_s
    count the jobs attributed to the span or its descendants; gap_s is the
    span's wall time during which none of those jobs was running."""
    owner = {j: tracer.owner_of(j) for j in jobs}
    kids: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.sid)
    by_span: dict[int, list[int]] = {}
    for j, sid in owner.items():
        if sid is not None:
            by_span.setdefault(sid, []).append(j)

    def inclusive(sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.extend(by_span.get(x, ()))
            todo.extend(kids.get(x, ()))
        return out

    acc: dict[str, dict] = {}
    for s in tracer.spans:
        if not (s.timed or s.name == "session.get_spark") or s.end == 0.0:
            continue
        js = [jobs[j] for j in inclusive(s.sid)]
        busy = union_length(
            [(max(j.submit, s.start), min(j.complete, s.end)) for j in js]
        )
        a = acc.setdefault(
            s.name,
            {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "jobs": 0,
             "tasks": 0, "exec_s": 0.0, "gap_s": 0.0},
        )
        a["calls"] += 1
        a["wall_s"] += s.end - s.start
        a["self_s"] += tracer.self_time(s.sid)
        a["jobs"] += len(js)
        a["tasks"] += sum(j.tasks for j in js)
        a["exec_s"] += sum(j.exec_s for j in js)
        a["gap_s"] += max(0.0, (s.end - s.start) - busy)
    for a in acc.values():
        n = a["calls"]
        for k in ("wall_s", "self_s", "jobs", "tasks", "exec_s", "gap_s"):
            a[k] /= n
    return acc
