"""Outside-in instrumentation: timed calls, spans, Spark status reads.

Everything here observes the engine from the benchmark's side:

- :class:`Recorder` times every public call the workloads make. With
  tracing off it only reads the clock. With tracing on it also records a
  span per call (name, start, end, parent, iteration id), gives each
  span its own Spark job group and, when the span ends, reads the jobs,
  stages and task metrics of that group from Spark's status store.
- :func:`wrap_functions` re-binds selected package functions (wherever
  a package module holds a reference to them) to timed wrappers, so
  calls the engine makes internally, e.g. ``build_star`` from
  ``transform_books``, become child spans. Tracing only.
- :func:`self_times` turns spans into per-layer self time plus an
  unattributed remainder that sum to the iteration wall time.
- :class:`RssSampler` samples the resident memory of the process tree.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    iteration: int
    start: float
    end: float = 0.0
    group: str = ""  # the Spark job group the span's jobs ran under
    counts: dict[str, float] = field(default_factory=dict)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


_STAGE_FIELDS = (
    ("task_s", "executorRunTime", 1e-3),
    ("task_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("scan_bytes", "inputBytes", 1),
    ("tasks", "numTasks", 1),
    ("failed_tasks", "numFailedTasks", 1),
)


class SparkProbe:
    """Reads one job group's jobs, stages and SQL plan metrics from the
    status store, and the JVM-wide codegen counters (py4j, UI off)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm

    def flush(self) -> None:
        # listener events are delivered asynchronously; wait until the
        # status store has seen everything the finished call produced
        self.jsc.listenerBus().waitUntilEmpty()

    def codegen(self) -> tuple[int, float]:
        """(classes compiled so far, their compile seconds so far)."""
        h = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        n = h.getCount()
        snap = h.getSnapshot()
        vals = list(snap.getValues())
        # the histogram's reservoir keeps every sample until it holds 1028
        total_ms = sum(vals) if len(vals) >= n else snap.getMean() * n
        return n, total_ms / 1000.0

    def group_counts(self, group: str) -> tuple[dict[str, float], list[tuple[float, float]]]:
        """Summed stage metrics of the group's jobs, and the jobs'
        (submission, completion) wall-clock intervals."""
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        out = {k: 0.0 for k, _, _ in _STAGE_FIELDS}
        out["jobs"] = float(len(job_ids))
        out["stages"] = 0.0
        intervals = []
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
            try:
                jd = store.job(j)
                sub, comp = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and comp.isDefined():
                    intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
            except Exception:  # job evicted from the store: no interval
                pass
        for s in stage_ids:
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # skipped stage (shuffle reused): never ran
                continue
            out["stages"] += 1
            for key, attr, scale in _STAGE_FIELDS:
                out[key] += getattr(sd, attr)() * scale
        return out, intervals

    def sql_nodes(self, group: str) -> list[tuple[str, str, float]]:
        """(node name, node description, output rows) for every plan node
        of the SQL executions whose jobs ran in ``group``."""
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        it = sql.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            ex_jobs = {int(k) for k in _scala_keys(ex.jobs())}
            if not ex_jobs & job_ids:
                continue
            values = sql.executionMetrics(ex.executionId())
            nodes = sql.planGraph(ex.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                rows = 0.0
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            rows += float(str(v.get()).replace(",", "").split()[0])
                out.append((node.name(), node.desc(), rows))
        return out


def _scala_keys(m) -> list:
    keys, it = [], m.keysIterator()
    while it.hasNext():
        keys.append(it.next())
    return keys


def _union(intervals: list[tuple[float, float]]) -> float:
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


class Recorder:
    """Times calls; with ``traced`` also records spans and Spark counts."""

    def __init__(self, spark, traced: bool):
        self.traced = traced
        self.probe = SparkProbe(spark) if traced else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.iteration = -1
        self.call_times: list[tuple[int, str, float]] = []  # (iteration, name, seconds)

    def call(self, name: str, fn, *args, **kwargs):
        if self._stack and self._stack[-1].name == name:  # already spanned
            return fn(*args, **kwargs)
        if not self.traced:
            t0 = time.perf_counter()
            result = fn(*args, **kwargs)
            self.call_times.append((self.iteration, name, time.perf_counter() - t0))
            return result
        return self._traced_call(name, fn, *args, **kwargs)

    def _traced_call(self, name, fn, *args, **kwargs):
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, parent.sid if parent else None, self.iteration, 0.0)
        self.spans.append(span)
        self._stack.append(span)
        sc = self.probe.sc
        span.group = f"perfbench-{span.sid}"
        sc.setJobGroup(span.group, name)
        span.start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            self.call_times.append((self.iteration, name, span.end - span.start))
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setJobGroup("perfbench-none", "untimed")
            self.probe.flush()
            span.counts, span.job_intervals = self.probe.group_counts(span.group)

    def subtree(self, span: Span) -> list[Span]:
        """``span`` and all its descendants."""
        out = [span]
        for s in self.spans:
            if s.parent == span.sid:
                out += self.subtree(s)
        return out

    def inclusive(self, span: Span, key: str) -> float:
        """``key`` summed over ``span`` and all its descendants."""
        return sum(float(s.counts.get(key, 0.0)) for s in self.subtree(span))

    def outside_jobs(self, span: Span) -> float:
        """Span time not covered by any Spark job launched inside it."""
        iv = [i for s in self.subtree(span) for i in s.job_intervals]
        return (span.end - span.start) - _union(iv)

    def spans_of(self, iteration: int) -> list[Span]:
        return [s for s in self.spans if s.iteration == iteration]

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                rec = {
                    "sid": s.sid,
                    "name": s.name,
                    "parent": s.parent,
                    "iteration": s.iteration,
                    "start": s.start,
                    "end": s.end,
                    "counts": s.counts,
                }
                f.write(json.dumps(rec) + "\n")


def wrap_functions(recorder: Recorder, targets: dict[str, object], package: str) -> None:
    """Re-bind each target function, in every loaded module of
    ``package`` that holds it, to a wrapper that records a span named
    by the target's key."""
    for span_name, fn in targets.items():
        wrapper = _spanned(recorder, span_name, fn)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapper)


def _spanned(recorder: Recorder, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        return recorder.call(name, fn, *args, **kwargs)

    return wrapper


def self_times(spans: list[Span], start: float, end: float) -> tuple[dict[str, float], float]:
    """Per-layer self time over [start, end] plus the unattributed rest.

    A span's self time is its duration minus the union of its children's
    intervals; top-level spans are the iteration's children. The layer
    totals plus the remainder equal ``end - start`` exactly."""
    children: dict[int | None, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    layers: dict[str, float] = {}
    for s in spans:
        covered = _union([(c.start, c.end) for c in children.get(s.sid, [])])
        layers[s.layer] = layers.get(s.layer, 0.0) + (s.end - s.start) - covered
    top = _union([(s.start, s.end) for s in children.get(None, [])])
    return layers, (end - start) - top


class RssSampler:
    """Peak resident set of this process and all its descendants
    (Python driver, JVM, Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree(self) -> list[int]:
        pids, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            try:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except OSError:  # process ended between listing and reading
                continue
        return pids

    def descendants(self) -> list[int]:
        return [p for p in self._tree() if p != os.getpid()]

    def sample(self) -> None:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
