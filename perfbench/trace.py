"""Out-of-program tracing: spans around the engine's layer functions, and
the Spark work each span started.

``Tracer.install()`` replaces every public function of each layer module
with a wrapper, in the module itself and wherever another engine module
imported it by name (``queries`` imports ``load_tables`` and
``run_jobs``; ``dedup`` imports ``commit_manifest`` and
``fingerprint``), plus the entries of the query registry. A call opens a
span only when it crosses into a different layer; a layer calling its
own functions stays inside the one span. Spans are kept in memory and
summarised when the run ends.

Spark jobs are attributed by job-id range: a span records the
scheduler's job counter when it opens and closes, and a job belongs to
the innermost span whose range holds its id. Job groups would not work:
``concurrency.run_jobs`` and the dedup cascade's append pool submit jobs
from fresh threads, which do not inherit them. A span opened on such a
worker thread takes the client thread's innermost open span as its
parent. When sibling spans run concurrently their ranges overlap, and a
job goes to the sibling that opened last.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from collections import defaultdict

#: Layer name -> engine module. The per-layer metrics use these names.
LAYERS = {
    "session": "big_data_analysis_spark.session",
    "io": "big_data_analysis_spark.io",
    "queries": "big_data_analysis_spark.queries",
    "relational": "big_data_analysis_spark.operators.relational",
    "timeseries": "big_data_analysis_spark.operators.timeseries",
    "mining": "big_data_analysis_spark.operators.mining",
    "ml.regression": "big_data_analysis_spark.ml.regression",
    "text": "big_data_analysis_spark.operators.text",
    "dedup": "big_data_analysis_spark.operators.dedup",
    "similarity": "big_data_analysis_spark.operators.similarity",
    "index_store": "big_data_analysis_spark.operators.index_store",
    "concurrency": "big_data_analysis_spark.concurrency",
}

LAYER_METRICS = (
    ("calls", "count"),
    ("self_s", "s"),
    ("spark_jobs", "count"),
    ("tasks", "count"),
    ("failed_tasks", "count"),
    ("executor_cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("input_mb", "MB"),
)

_active: Tracer | None = None


def active() -> Tracer | None:
    """The installed tracer, if tracing is on in this process. Wrappers
    look it up through this function so that a wrapped function pickled
    into a Python worker never drags the tracer along."""
    return _active


def _wrap(fn, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        tracer = active()
        if tracer is None:
            return fn(*args, **kwargs)
        with tracer.span(layer, fn.__name__):
            return fn(*args, **kwargs)

    return traced


class _Span:
    __slots__ = ("layer", "name", "phase", "parent", "t0", "t1", "j0", "j1")

    def __init__(self, layer, name, phase, parent):
        self.layer, self.name, self.phase, self.parent = layer, name, phase, parent


class _NoSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


class _SpanCtx:
    def __init__(self, tracer: Tracer, span: _Span):
        self.tracer, self.s = tracer, span

    def __enter__(self):
        self.tracer._open(self.s)
        return self.s

    def __exit__(self, *exc):
        self.tracer._close(self.s)
        return False


class Tracer:
    """Records spans at layer boundaries. ``phase`` is set by the
    benchmark ("setup" or "pass") and stamped on every span."""

    def __init__(self):
        self.spans: list[_Span] = []
        self.phase = "setup"
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[_Span] = []
        self._lock = threading.Lock()

    # -- installation ---------------------------------------------------
    def install(self) -> None:
        global _active
        originals: dict[int, tuple[object, object]] = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if (inspect.isfunction(obj) and not name.startswith("_")
                        and obj.__module__ == modname):
                    originals[id(obj)] = (obj, _wrap(obj, layer))
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("big_data_analysis_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, name, hit[1])
        registry = importlib.import_module(LAYERS["queries"]).QUERIES
        for name, fn in list(registry.items()):
            hit = originals.get(id(fn))
            if hit is not None:
                registry[name] = hit[1]
        _active = self

    def pause(self) -> None:
        """Stop recording; wrappers call straight through."""
        global _active
        _active = None

    def resume(self, phase: str) -> None:
        global _active
        self.phase = phase
        _active = self

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[_Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, layer: str, name: str):
        """Context manager timing one call into ``layer``. A call made
        from inside a span of the same layer is part of that span."""
        stack = self._stack()
        if stack and stack[-1].layer == layer:
            return _NoSpan()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        return _SpanCtx(self, _Span(layer, name, self.phase, parent))

    def _open(self, s: _Span) -> None:
        self._stack().append(s)
        s.j0 = job_counter()
        s.t0 = time.perf_counter()

    def _close(self, s: _Span) -> None:
        s.t1 = time.perf_counter()
        s.j1 = job_counter()
        stack = self._stack()
        if stack and stack[-1] is s:
            stack.pop()
        with self._lock:
            self.spans.append(s)

    # -- summaries ------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's
        intervals (children may overlap when they ran on threads)."""
        kids: dict[int, list[_Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[id(s.parent)].append(s)
        out = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c.t0, s.t0), min(c.t1, s.t1)) for c in kids.get(id(s), ())]
            )
            out[id(s)] = max(0.0, (s.t1 - s.t0) - covered)
        return out


def _job_owners(spans: list[_Span], j_lo: int, j_hi: int) -> dict[int, _Span]:
    """Job id -> innermost span whose job range holds it."""
    owners = {}
    for j in range(j_lo, j_hi):
        best = None
        for s in spans:
            if s.j0 <= j < s.j1 and (
                best is None or s.j0 > best.j0
                or (s.j0 == best.j0 and s.j1 - s.j0 < best.j1 - best.j0)
            ):
                best = s
        if best is not None:
            owners[j] = best
    return owners


def _union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def job_counter() -> int:
    """Number of Spark jobs submitted so far in this application (the id
    the next job will get); 0 before the SparkContext exists."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return 0
    return sc._jsc.sc().dagScheduler().numTotalJobs()


class StageStats:
    """Per-stage metrics read from Spark's status store (available with
    the UI off). One instance reads each stage once."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self._stages: dict[int, dict] = {}
        try:
            self.jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - best effort: older builds lack it
            time.sleep(1.0)
        self.store = self.jsc.statusStore()

    def job_stages(self, job_id: int) -> list[int]:
        info = self.sc.statusTracker().getJobInfo(job_id)
        return [] if info is None else list(info.stageIds)

    def stage(self, sid: int) -> dict:
        got = self._stages.get(sid)
        if got is not None:
            return got
        sd = self.store.lastStageAttempt(sid)
        sub, done = sd.submissionTime(), sd.completionTime()
        d = {
            "tasks": sd.numTasks() if str(sd.status().toString()) != "SKIPPED" else 0,
            "failed_tasks": sd.numFailedTasks(),
            "cpu_s": sd.executorCpuTime() / 1e9,
            "input_mb": sd.inputBytes() / 1e6,
            "shuffle_write_mb": sd.shuffleWriteBytes() / 1e6,
            "gc_s": sd.jvmGcTime() / 1e3,
            "spill_mb": sd.diskBytesSpilled() / 1e6,
            "t0": sub.get().getTime() / 1e3 if sub.isDefined() else None,
            "t1": done.get().getTime() / 1e3 if done.isDefined() else None,
            "skew": None,
        }
        if d["tasks"] >= 2:
            gw = self.sc._gateway
            q = gw.new_array(gw.jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summ = self.store.taskSummary(sid, sd.attemptId(), q)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                d["skew"] = (float(rt.apply(0)), float(rt.apply(1)))
        self._stages[sid] = d
        return d


def layer_report(tracer: Tracer, spark, windows: list[tuple], extra: dict) -> dict[str, float]:
    """Per-layer metrics averaged over the traced passes.

    ``windows`` holds one (wall_t0, wall_t1, job_lo, job_hi) per traced
    pass. ``extra`` carries workload-level counters already averaged
    per pass (dedup tier counts, store sizes, overhead)."""
    n = max(1, len(windows))
    selft = tracer.self_times()
    pass_spans = [s for s in tracer.spans if s.phase == "pass"]
    setup_spans = [s for s in tracer.spans if s.phase == "setup"]
    stats = StageStats(spark)
    m: dict[str, float] = {}
    for layer in LAYERS:
        for key, _unit in LAYER_METRICS:
            m[f"{layer}.{key}"] = 0.0
        m[f"setup.{layer}.self_s"] = 0.0
    for s in pass_spans:
        m[f"{s.layer}.calls"] += s.name != "sink"
        m[f"{s.layer}.self_s"] += selft[id(s)]
    for s in setup_spans:
        m[f"setup.{s.layer}.self_s"] += selft[id(s)]
    build = sum(s.t1 - s.t0 for s in pass_spans if s.layer == "queries" and s.name != "sink")
    sink = sum(s.t1 - s.t0 for s in pass_spans if s.layer == "queries" and s.name == "sink")

    busy_intervals, gc, spill, worst, seen = [], 0.0, 0.0, None, set()
    for (w0, w1, j_lo, j_hi) in windows:
        owners = _job_owners(pass_spans, j_lo, j_hi)
        for j in range(j_lo, j_hi):
            owner = owners.get(j)
            if owner is not None:
                m[f"{owner.layer}.spark_jobs"] += 1
            for sid in stats.job_stages(j):
                if sid in seen:
                    continue
                seen.add(sid)
                st = stats.stage(sid)
                if owner is not None:
                    m[f"{owner.layer}.tasks"] += st["tasks"]
                    m[f"{owner.layer}.failed_tasks"] += st["failed_tasks"]
                    m[f"{owner.layer}.executor_cpu_s"] += st["cpu_s"]
                    m[f"{owner.layer}.shuffle_write_mb"] += st["shuffle_write_mb"]
                    m[f"{owner.layer}.input_mb"] += st["input_mb"]
                gc += st["gc_s"]
                spill += st["spill_mb"]
                if st["t0"] is not None and st["t1"] is not None:
                    busy_intervals.append((max(st["t0"], w0), min(st["t1"], w1)))
                if st["skew"] is not None:
                    med, mx = st["skew"]
                    if worst is None or mx - med > worst[1] - worst[0]:
                        worst = (med, mx)
    for key in list(m):
        if not key.startswith("setup."):
            m[key] /= n
    m["queries.build_s"] = build / n
    m["queries.exec_s"] = sink / n
    pass_time = sum(w1 - w0 for (w0, w1, _, _) in windows)
    m["spark.driver_idle_s"] = max(0.0, pass_time - _union_length(busy_intervals)) / n
    m["spark.task_skew"] = (worst[1] / max(worst[0], 1.0)) if worst else 1.0
    m["spark.gc_s"] = gc / n
    m["spark.spill_mb"] = spill / n
    m.update(extra)
    return m
