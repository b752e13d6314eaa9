"""Layer spans for the traced run, attributed Spark jobs, and the
per-layer arithmetic.

The tracer wraps, from outside the engine, each layer's public
functions and the public methods of its classes at module-attribute
level, plus every by-name import of a wrapped function elsewhere in the
package (e.g. the ``from voter_gateway_spark.session import ckpt``
sites). A span records name, layer, start, end and parent; spans stay
in memory and are written out when the run ends. While a span is the
innermost one on its thread, the Spark jobs it launches carry its job
tag, so per-job metrics from the status store land on the innermost
span. Work that runs lazily lands in the span of the action that runs
it.
"""

from __future__ import annotations

import importlib
import inspect
import itertools
import sys
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

PKG = "voter_gateway_spark"
TAG_PREFIX = "perfbench-span-"

# layer name -> module; the session layer is the ckpt* family only
LAYERS = {
    "sources.csv_source": f"{PKG}.sources.csv_source",
    "sources.sinks": f"{PKG}.sources.sinks",
    "plans.staging": f"{PKG}.plans.staging",
    "plans.matching": f"{PKG}.plans.matching",
    "plans.merging": f"{PKG}.plans.merging",
    "plans.dedup": f"{PKG}.plans.dedup",
    "audit": f"{PKG}.audit",
    "operators.fuzzy": f"{PKG}.operators.fuzzy",
    "operators.dedup_ops": f"{PKG}.operators.dedup_ops",
    "operators.similarity": f"{PKG}.operators.similarity",
    "session": f"{PKG}.session",
}
LAYER_METRICS = {
    "calls": "count",
    "self_s": "s",
    "jobs": "count",
    "task_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
}
SPARK_METRICS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.parallelism": "ratio",
}
MB = 1024 * 1024


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by
    its direct children (overlapping children count once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def _mentions_dataframe(fn) -> bool:
    ann = getattr(fn, "__annotations__", {}) or {}
    return any("DataFrame" in str(a) for a in ann.values())


def _returns_column_only(fn) -> bool:
    ret = str((getattr(fn, "__annotations__", {}) or {}).get("return", ""))
    return "Column" in ret and "DataFrame" not in ret


def layer_targets(layer: str, module) -> list[tuple[object, str, object]]:
    """(owner, attribute, function) triples to wrap for one layer:
    public functions defined in the module, and public methods of its
    classes that handle DataFrames. Pure Column builders launch no job
    and are skipped; the session layer is the ckpt* family."""
    out = []
    for name, obj in vars(module).items():
        if name.startswith("_") or getattr(obj, "__module__", None) != module.__name__:
            continue
        if layer == "session" and not name.startswith("ckpt"):
            continue
        if inspect.isfunction(obj):
            if not _returns_column_only(obj):
                out.append((module, name, obj))
        elif inspect.isclass(obj) and layer != "session":
            methods = {
                m: f for m, f in vars(obj).items()
                if not m.startswith("_") and inspect.isfunction(f)
            }
            fields = getattr(obj, "__annotations__", {})
            if any(_mentions_dataframe(f) for f in methods.values()) or any(
                "DataFrame" in str(a) for a in fields.values()
            ):
                out.extend((obj, m, f) for m, f in methods.items())
    return out


class Tracer:
    """Collects spans while installed; `root(name)` opens a top-level
    span for one benchmark operation so that no traced job goes
    untagged."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.active = False

    # -- span stack and job tags ---------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _retag(self, old: Span | None, new: Span | None) -> None:
        if self.sc is None:
            return
        if old is not None:
            self.sc.removeJobTag(TAG_PREFIX + str(old.id))
        if new is not None:
            self.sc.addJobTag(TAG_PREFIX + str(new.id))

    def open(self, layer: str, name: str) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        span = Span(next(self._ids), parent.id if parent else None, layer, name,
                    time.perf_counter())
        st.append(span)
        self._retag(parent, span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        st = self._stack()
        st.pop()
        self._retag(span, st[-1] if st else None)
        self.spans.append(span)

    def root(self, name: str):
        return _SpanContext(self, "bench", name)

    # -- wrapping ----------------------------------------------------------------

    def _wrap(self, layer: str, qualname: str, fn):
        tracer = self
        target = inspect.unwrap(fn)
        if inspect.isgeneratorfunction(target) and target is not fn:
            # a @contextmanager: the span covers the with-block, so the
            # work its exit runs (e.g. ckpt_defer's union job) is its own
            def cm_wrapper(*a, **kw):
                if not tracer.active:
                    return fn(*a, **kw)
                return _SpanContext(tracer, layer, qualname, fn(*a, **kw))

            cm_wrapper.__wrapped__ = fn
            return cm_wrapper

        def wrapper(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            span = tracer.open(layer, qualname)
            try:
                return fn(*a, **kw)
            finally:
                tracer.close(span)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", "wrapper")
        return wrapper

    def install(self) -> int:
        """Patch every layer; returns the number of wrapped functions."""
        importlib.import_module(f"{PKG}.queries")  # the catalog's imports too
        originals: dict[int, object] = {}
        for layer, modname in LAYERS.items():
            module = importlib.import_module(modname)
            for owner, attr, fn in layer_targets(layer, module):
                qual = f"{layer}.{getattr(fn, '__qualname__', attr)}"
                w = self._wrap(layer, qual, fn)
                self._patch(owner, attr, fn, w)
                if inspect.ismodule(owner):
                    originals[id(fn)] = w
        # by-name imports of wrapped functions in other package modules
        for modname, module in list(sys.modules.items()):
            if not modname.startswith(PKG) or module is None:
                continue
            for attr, obj in list(vars(module).items()):
                w = originals.get(id(obj))
                if w is not None and getattr(module, attr) is not w:
                    self._patch(module, attr, obj, w)
        self.active = True
        return len(self._patches)

    def _patch(self, owner, attr: str, original, wrapper) -> None:
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def uninstall(self) -> None:
        self.active = False
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class _SpanContext:
    """Span around a with-block (benchmark roots, wrapped context
    managers)."""

    def __init__(self, tracer: Tracer, layer: str, name: str, inner=None):
        self.tracer, self.layer, self.name, self.inner = tracer, layer, name, inner

    def __enter__(self):
        self.span = self.tracer.open(self.layer, self.name)
        return self.inner.__enter__() if self.inner is not None else self.span

    def __exit__(self, *exc):
        try:
            if self.inner is not None:
                return self.inner.__exit__(*exc)
            return False
        finally:
            self.tracer.close(self.span)


# -- Spark status store --------------------------------------------------------


@dataclass
class JobStats:
    job_id: int
    tags: list[str]
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def read_jobs(sc, min_job_id: int = 0) -> list[JobStats]:
    """Per-job totals from the status store for jobs with id >=
    `min_job_id`. Each stage counts once, in the first job that lists
    it (later jobs that reuse its shuffle output skip it)."""
    from py4j.protocol import Py4JError

    jsc = sc._jsc.sc()
    try:  # let the status store see the last jobs' end events
        jsc.listenerBus().waitUntilEmpty(10000)
    except Py4JError:
        time.sleep(0.5)
    store = jsc.statusStore()
    jobs: dict[int, JobStats] = {}
    stage_owner: dict[int, int] = {}
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        jid = j.jobId()
        for sid in j.stageIds().mkString(",").split(","):
            if sid:
                stage_owner[int(sid)] = min(jid, stage_owner.get(int(sid), jid))
        if jid >= min_job_id:
            tags = [t for t in j.jobTags().mkString("\u0001").split("\u0001") if t]
            jobs[jid] = JobStats(jid, tags)
    empty = sc._jvm.java.util.Collections.emptyList()
    no_q = sc._gateway.new_array(sc._jvm.double, 0)
    it = store.stageList(empty, False, False, no_q, empty).iterator()
    while it.hasNext():
        s = it.next()
        js = jobs.get(stage_owner.get(s.stageId(), -1))
        if js is None:
            continue
        js.stages += 1
        js.tasks += s.numCompleteTasks()
        js.task_s += s.executorRunTime() / 1000.0
        js.cpu_s += s.executorCpuTime() / 1e9
        js.gc_s += s.jvmGcTime() / 1000.0
        js.shuffle_bytes += s.shuffleWriteBytes()
        js.spill_bytes += s.diskBytesSpilled()
    return sorted(jobs.values(), key=lambda j: j.job_id)


def span_of(job: JobStats) -> int | None:
    ids = [int(t[len(TAG_PREFIX):]) for t in job.tags if t.startswith(TAG_PREFIX)]
    return ids[0] if len(ids) == 1 else None


def layer_metrics(spans: list[Span], jobs: list[JobStats], passes: int,
                  wall_s: float) -> dict[str, float]:
    """Per-pass layer and whole-run Spark numbers from the spans and
    jobs of `passes` traced passes whose summed wall is `wall_s`.
    Only jobs tagged with a span count: that is every job of a traced
    pass, since each operation runs under a root span."""
    by_id = {s.id: s for s in spans}
    selft = self_times(spans)
    out: dict[str, float] = {}
    for layer in LAYERS:
        for m in LAYER_METRICS:
            out[f"{layer}.{m}"] = 0.0
    for s in spans:
        if s.layer in LAYERS:
            out[f"{s.layer}.calls"] += 1
            out[f"{s.layer}.self_s"] += selft[s.id]
    traced = [j for j in jobs if span_of(j) in by_id]
    for j in traced:
        layer = by_id[span_of(j)].layer
        if layer in LAYERS:
            out[f"{layer}.jobs"] += 1
            out[f"{layer}.task_s"] += j.task_s
            out[f"{layer}.shuffle_mb"] += j.shuffle_bytes / MB
            out[f"{layer}.spill_mb"] += j.spill_bytes / MB
    out["spark.jobs"] = len(traced)
    out["spark.stages"] = sum(j.stages for j in traced)
    out["spark.tasks"] = sum(j.tasks for j in traced)
    out["spark.task_s"] = sum(j.task_s for j in traced)
    out["spark.cpu_s"] = sum(j.cpu_s for j in traced)
    out["spark.gc_s"] = sum(j.gc_s for j in traced)
    out["spark.shuffle_mb"] = sum(j.shuffle_bytes for j in traced) / MB
    out["spark.spill_mb"] = sum(j.spill_bytes for j in traced) / MB
    n = max(passes, 1)
    out = {k: v / n for k, v in out.items()}
    out["spark.parallelism"] = out["spark.task_s"] / (wall_s / n) if wall_s > 0 else 0.0
    return out


def op_counts(spans: list[Span], jobs: list[JobStats]) -> dict:
    """Per benchmark operation (root span): [min, max] over its traced
    runs of the jobs it launched and the shuffle bytes they wrote."""
    by_id = {s.id: s for s in spans}

    def root(span_id: int) -> Span:
        s = by_id[span_id]
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    per_root: dict[int, list[int]] = {s.id: [0, 0] for s in spans if s.parent is None}
    for j in jobs:
        sid = span_of(j)
        if sid in by_id:
            acc = per_root[root(sid).id]
            acc[0] += 1
            acc[1] += j.shuffle_bytes
    out: dict[str, dict] = {}
    for rid, (n, sh) in per_root.items():
        d = out.setdefault(by_id[rid].name, {"jobs": [], "shuffle_bytes": []})
        d["jobs"].append(n)
        d["shuffle_bytes"].append(sh)
    return {k: {m: [min(v), max(v)] for m, v in d.items()} for k, d in out.items()}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name this module produces, with its unit."""
    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS.items()}
    units.update(SPARK_METRICS)
    return units
