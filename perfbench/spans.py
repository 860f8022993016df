"""Span tracer for the traced benchmark run.

:meth:`Tracer.install` wraps every public function of the package's
layer modules (``session``, ``sources``, ``functions``, ``operators``,
``plans``, ``ext``, ``sinks``, ``streaming``) in a span, and rebinds
the wrapper in every loaded module namespace that holds the original,
so ``from ... import f`` bindings (``__spark_entry__``, ``plans/*``)
are traced too. The benchmark adds its own spans around its final
writes (``action``) and its calls into the document-store connector.

A span records name, layer, start, end and parent. Its self time is
its duration minus the time covered by its child spans. Each span on
the driver thread sets a Spark job group, so :meth:`Tracer.harvest`
can attribute per-job stage counters from the app status store (and
Python-worker bytes from the SQL status store) to the span that
submitted the job. Jobs submitted from other threads (streaming
micro-batches) carry no group of ours; they go to the innermost span
open when they were submitted.

Spans stay in memory; :meth:`Tracer.dump` writes them out at the end.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PACKAGE = "pac_data_pipeline_spark"
LAYERS = ("session", "sources", "functions", "operators", "plans", "ext", "sinks", "streaming")
MB = 1 << 20
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _layer_modules():
    """Import and yield every module of each layer, with its layer."""
    for layer in LAYERS:
        mod = importlib.import_module(f"{PACKAGE}.{layer}")
        yield layer, mod
        for info in pkgutil.iter_modules(getattr(mod, "__path__", [])):
            yield layer, importlib.import_module(f"{mod.__name__}.{info.name}")


class _Traced:
    """Callable stand-in for a layer function. Pickles as the original
    (by module and name), so closures shipped to Python workers carry
    the plain function, never the tracer."""

    def __init__(self, tracer: Tracer, fn, layer: str):
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._tracer = tracer
        self._name = f"{layer}.{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}"
        self._layer = layer

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer, self._name):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._main = threading.main_thread()
        self._last_job = -1
        self._last_exec = -1

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str):
        on_driver = threading.current_thread() is self._main
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            s = {
                "id": next(self._ids),
                "name": name,
                "layer": layer,
                "parent": parent["id"] if parent else None,
                "start": time.perf_counter(),
                "wall_ms": time.time() * 1000.0,
                "children_s": 0.0,
            }
            self._stack.append(s)
        if on_driver:
            self.sc.setJobGroup(f"span-{s['id']}", name)
        try:
            yield s
        finally:
            end = time.perf_counter()
            with self._lock:
                self._stack.remove(s)
                s["end"] = end
                s["end_wall_ms"] = time.time() * 1000.0
                dur = end - s["start"]
                s["self_s"] = max(0.0, dur - s["children_s"])
                if parent is not None:
                    parent["children_s"] += dur
                self.spans.append(s)
            if on_driver:
                if parent is not None:
                    self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def install(self) -> int:
        """Wrap every public layer function and rebind it in every
        loaded module that holds it. Returns the number wrapped."""
        wrapped: dict[int, tuple] = {}  # id(original) -> (original, wrapper)
        for layer, mod in _layer_modules():
            for name, fn in list(vars(mod).items()):
                if inspect.isfunction(fn) and not name.startswith("_") and fn.__module__ == mod.__name__:
                    wrapped[id(fn)] = (fn, _Traced(self, fn, layer))
        for mod in list(sys.modules.values()):
            for attr, val in list(getattr(mod, "__dict__", {}).items()):
                hit = wrapped.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
        return len(wrapped)

    # -- Spark counters ------------------------------------------------------
    def _span_of_job(self, group: str | None, submitted_ms: float | None, by_id: dict):
        if group and group.startswith("span-"):
            s = by_id.get(int(group[5:]))
            if s is not None:
                return s
        if submitted_ms is None:
            return None
        best = None
        for s in self.spans:
            if s["wall_ms"] <= submitted_ms <= s.get("end_wall_ms", float("inf")):
                if best is None or s["wall_ms"] >= best["wall_ms"]:
                    best = s
        return best

    def harvest(self) -> dict:
        """Per-layer Spark counters of the jobs finished since the last
        call, attributed to the spans that submitted them."""
        by_id = {s["id"]: s for s in self.spans}
        store = self.sc._jsc.sc().statusStore()
        out: dict = defaultdict(lambda: defaultdict(float))
        job_layer: dict[int, str] = {}
        it = store.jobsList(None).iterator()
        jobs = []
        while it.hasNext():
            jobs.append(it.next())
        for job in jobs:
            jid = job.jobId()
            if jid <= self._last_job:
                continue
            grp = job.jobGroup()
            group = grp.get() if grp.isDefined() else None
            sub = job.submissionTime()
            sub_ms = float(sub.get().getTime()) if sub.isDefined() else None
            s = self._span_of_job(group, sub_ms, by_id)
            layer = s["layer"] if s else "unattributed"
            job_layer[jid] = layer
            c = out[layer]
            c["jobs"] += 1
            sids = job.stageIds().iterator()
            while sids.hasNext():
                sid = sids.next()
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never ran, not stored
                    continue
                c["tasks"] += st.numTasks()
                c["tasks_failed"] += st.numFailedTasks()
                c["task_s"] += st.executorRunTime() / 1e3
                c["cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["rows_read"] += st.inputRecords()
                c["mb_read"] += st.inputBytes() / MB
                c["shuffle_mb"] += st.shuffleWriteBytes() / MB
                c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        if job_layer:
            self._last_job = max(self._last_job, max(job_layer))
        self._harvest_python_bytes(job_layer, out)
        return {k: dict(v) for k, v in out.items()}

    def _harvest_python_bytes(self, job_layer: dict[int, str], out) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        it = sql.executionsList().iterator()
        newest = self._last_exec
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid <= self._last_exec:
                continue
            newest = max(newest, eid)
            jit = ex.jobs().keysIterator()
            layer = None
            while jit.hasNext():
                layer = job_layer.get(jit.next(), layer)
            if layer is None:
                continue
            acc_ids = set()
            mit = ex.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                if m.name().startswith(("data sent to Python", "data returned from Python")):
                    acc_ids.add(m.accumulatorId())
            if not acc_ids:
                continue
            vit = sql.executionMetrics(eid).iterator()
            while vit.hasNext():
                kv = vit.next()
                if kv._1() in acc_ids:
                    out[layer]["python_mb"] += _parse_size(kv._2()) / MB
        self._last_exec = newest

    # -- reporting -----------------------------------------------------------
    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh)


def _parse_size(text: str) -> float:
    """Bytes from a formatted SQL size metric: the total is the first
    size in the string (``"total (min, med, max)\\n1.2 MiB (...)"``);
    data-source custom metrics print plain byte counts."""
    m = _SIZE.search(text or "")
    if m:
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
    digits = (text or "").replace(",", "").strip()
    return float(digits) if digits.isdigit() else 0.0


def layer_times(spans: list[dict]) -> dict:
    """Calls and summed self seconds per layer."""
    agg: dict = defaultdict(lambda: {"calls": 0, "self_s": 0.0})
    for s in spans:
        a = agg[s["layer"]]
        a["calls"] += 1
        a["self_s"] += s["self_s"]
    return dict(agg)
