"""Spans around the calls into the engine's layers, and Spark's own counters.

Nothing here edits the engine. :class:`Patcher` swaps a layer's public
functions (module attributes, every name they are imported under, and the
public methods of the layer's classes) for wrappers, and puts the originals
back on ``restore()``. :class:`Tracer` uses it to record one span per entry
into a layer; :class:`SparkCounters` reads per-job and per-stage metrics from
the driver's status store, which Spark fills even with the UI disabled.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

# Layer name -> module (every public function and class method in it) or
# "module:function" (that one function).
LAYERS = {
    "groupby.core": "pandas_plus_spark.groupby.core",
    "groupby.pivot": "pandas_plus_spark.groupby.pivot",
    "functions.ordered": "pandas_plus_spark.functions.ordered",
    "operators.joins": "pandas_plus_spark.operators.joins",
    "operators.dedup": "pandas_plus_spark.operators.dedup",
    "operators.similarity": "pandas_plus_spark.operators.similarity",
    "operators.ranking": "pandas_plus_spark.operators.ranking",
    "operators.cleaning": "pandas_plus_spark.operators.cleaning",
    "operators.sampling": "pandas_plus_spark.operators.sampling",
    "operators.packing": "pandas_plus_spark.operators.packing",
    "operators.classify": "pandas_plus_spark.operators.classify",
    "util.lineage_cut": "pandas_plus_spark.util:lineage_cut",
    "util.ensure_parallelism": "pandas_plus_spark.util:ensure_parallelism",
    "sources.load_table": "pandas_plus_spark.sources.tables:load_table",
}


def _references() -> dict[int, list[tuple[object, str]]]:
    """id(object) -> every (module, name) binding it in the program's
    modules, so a function imported under several names is wrapped in all."""
    refs: dict[int, list[tuple[object, str]]] = {}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == "__spark_entry__"
                               or mod_name.startswith("pandas_plus_spark")):
            continue
        for name, value in list(vars(mod).items()):
            refs.setdefault(id(value), []).append((mod, name))
    return refs


class Patcher:
    """Replace a layer's public callables with ``make(fn, layer, name)``."""

    def __init__(self, make):
        self._make = make
        self._undo: list[tuple[object, str, object]] = []

    def install(self, layers: dict[str, str]) -> None:
        self._refs = _references()
        for layer, target in layers.items():
            mod_name, _, fn_name = target.partition(":")
            mod = importlib.import_module(mod_name)
            if fn_name:
                self._function(getattr(mod, fn_name), layer)
                continue
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod_name:
                    continue
                if inspect.isfunction(obj):
                    self._function(obj, layer)
                elif inspect.isclass(obj):
                    self._methods(obj, layer)

    def _set(self, owner, name, value) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def _function(self, fn, layer: str) -> None:
        wrapped = self._make(fn, layer, fn.__qualname__)
        for mod, name in self._refs.get(id(fn), ()):
            self._set(mod, name, wrapped)

    def _methods(self, cls, layer: str) -> None:
        for name, attr in list(vars(cls).items()):
            if name.startswith("_"):
                continue
            label = f"{cls.__name__}.{name}"
            if isinstance(attr, (staticmethod, classmethod)):
                self._set(cls, name, type(attr)(self._make(attr.__func__, layer, label)))
            elif inspect.isfunction(attr):
                self._set(cls, name, self._make(attr, layer, label))
            elif callable(getattr(attr, "_fn", None)):
                # groupby.core's dual instance/static method descriptor
                self._set(attr, "_fn", self._make(attr._fn, layer, label))

    def restore(self) -> None:
        while self._undo:
            owner, name, value = self._undo.pop()
            setattr(owner, name, value)


class SparkCounters:
    """Job ids, per-job and per-stage metrics from the driver's status store."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._counted_stages: set[int] = set()

    def next_job_id(self) -> int:
        """Ids are sequential, so [a, b) spans the jobs submitted in between,
        from any thread."""
        return int(self._sc.dagScheduler().nextJobId())

    def driver_gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def jobs(self, first: int, end: int) -> dict[str, float]:
        """Totals over jobs [first, end); each stage is counted once per run."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "stages_skipped", "tasks", "run_s", "cpu_s",
             "gc_s", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
             "spill_bytes"), 0.0)
        for job_id in range(first, end):
            try:
                job = store.job(job_id)
            except Py4JError:  # a job the store no longer retains
                continue
            out["jobs"] += 1
            out["stages"] += job.numCompletedStages()
            out["stages_skipped"] += job.numSkippedStages()
            out["tasks"] += job.numCompletedTasks()
            ids = job.stageIds()
            for i in range(ids.size()):
                stage_id = int(ids.apply(i))
                if stage_id in self._counted_stages:
                    continue
                try:
                    st = store.lastStageAttempt(stage_id)
                except Py4JError:  # skipped: never attempted
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                self._counted_stages.add(stage_id)
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class Tracer:
    """In-memory spans: name, layer, start, end, parent, op id, and the
    Spark jobs submitted while the span was open.

    A span opens only where a call crosses into a different layer, so
    ``calls`` counts layer entries, not internal calls. Self time is a span's
    duration minus the time its child spans cover; self jobs likewise. Spans
    opened on engine worker threads have no parent, and jobs from concurrent
    threads are counted by every span open at the time.
    """

    def __init__(self, counters: SparkCounters):
        self._counters = counters
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patcher = Patcher(self._wrap)
        self.spans: list[dict] = []
        self.op: str | None = None

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        rec = {"id": None, "name": name, "layer": layer, "op": self.op,
               "parent": stack[-1]["id"] if stack else None,
               "start": time.perf_counter(), "job0": self._counters.next_job_id(),
               "child_s": 0.0, "child_jobs": 0}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            dur = rec["end"] - rec["start"]
            jobs = self._counters.next_job_id() - rec["job0"]
            rec["self_s"] = dur - rec.pop("child_s")
            rec["self_jobs"] = jobs - rec.pop("child_jobs")
            rec["jobs"] = jobs
            if stack:
                stack[-1]["child_s"] += dur
                stack[-1]["child_jobs"] += jobs

    def _wrap(self, fn, layer: str, label: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            if stack and stack[-1]["layer"] == layer:
                return fn(*args, **kwargs)
            with tracer.span(label, layer):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        self._patcher.install(LAYERS)

    def uninstall(self) -> None:
        self._patcher.restore()

    def layer_totals(self) -> dict[str, dict[str, float]]:
        out = {layer: {"calls": 0, "self_s": 0.0, "eager_jobs": 0} for layer in LAYERS}
        for s in self.spans:
            if s["layer"] in out and "end" in s:
                t = out[s["layer"]]
                t["calls"] += 1
                t["self_s"] += s["self_s"]
                t["eager_jobs"] += s["self_jobs"]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class TableRecorder:
    """Which source tables each op loads, found by wrapping ``load_table``.
    Loads are attributed to the op named by ``op``."""

    def __init__(self):
        self.tables: dict[str, set[str]] = {}
        self.op: str | None = None
        self._patcher = Patcher(self._wrap)

    def _wrap(self, fn, layer, label):
        recorder = self

        @functools.wraps(fn)
        def recording(spark, sf_dir, name, *args, **kwargs):
            if recorder.op is not None:
                recorder.tables.setdefault(recorder.op, set()).add(name)
            return fn(spark, sf_dir, name, *args, **kwargs)
        return recording

    def __enter__(self):
        self._patcher.install({"sources.load_table": LAYERS["sources.load_table"]})
        return self

    def __exit__(self, *exc):
        self._patcher.restore()
