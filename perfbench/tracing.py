"""Tracing for the traced run, all from the benchmark's own files: spans
around every public function of the engine's ``plans``, ``operators``,
``sources`` and ``streaming`` modules and around ``ManifestTable``'s
publish / read-modify-write / read methods, a ``StreamingQueryListener``
for micro-batch progress, and the Python UDF profiler for worker time.

Spans stay in memory (``Tracer.spans``) and are written out by the caller
when the run ends. Tracing toggles per lap (``Tracer.active``): the traced
run alternates traced and untraced warm laps, and the difference of their
medians is the tracing overhead it reports.
"""

from __future__ import annotations

import copy
import functools
import importlib
import inspect
import itertools
import os
import pkgutil
import sys
import threading
import time
import types
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "tinymapreduce_spark"
LAYERS = ("plans", "operators", "sources", "streaming")


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.key: str | None = None  # "<lap>:<key>" of the execution in flight
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self._ids = itertools.count(1)
        self._stack = threading.local()
        self._main = self._open()  # the loop's thread

    def _open(self) -> list[int]:
        return self._stack.__dict__.setdefault("ids", [])

    @contextmanager
    def span(self, layer: str, name: str):
        """Record a span. Its parent is the innermost open span of this
        thread; on another thread with none open (a ``foreachBatch``
        callback), the innermost open span of the loop's thread, which is
        blocked on the work that caused the callback."""
        stack = self._open()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        sp = {
            "id": next(self._ids),
            "layer": layer,
            "name": name,
            "key": self.key,
            "parent": parent,
            "start": time.time(),
        }
        stack.append(sp["id"])
        try:
            yield sp
        finally:
            stack.pop()
            sp["end"] = time.time()
            self.spans.append(sp)


class _Traced:
    """Callable stand-in for one engine function that records a span while
    tracing is active.

    It pickles as the function it wraps, so a UDF kernel (or any function
    whose globals reach a wrapped name) ships to Python workers untraced and
    without the tracer; ``__signature__`` keeps ``getfullargspec`` — which
    Spark uses to tell ``(key, pdf)`` grouped-map kernels apart — exact."""

    def __init__(self, tracer: Tracer, layer: str, fn) -> None:
        functools.update_wrapper(self, fn)
        try:
            self.__signature__ = inspect.signature(fn)
        except (TypeError, ValueError):
            pass
        self._tracer = tracer
        self._layer = layer
        self._fn = fn
        self._name = f"{fn.__module__}.{fn.__qualname__}"

    def __call__(self, *args, **kwargs):
        if not self._tracer.active:
            return self._fn(*args, **kwargs)
        with self._tracer.span(self._layer, self._name):
            return self._fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return (copy.copy, (self._fn,))


class _TracedPublish(_Traced):
    """``ManifestTable.publish``: also records whether a version was created
    (an idempotent re-publish of a snapshot id creates none)."""

    def __call__(self, table, *args, **kwargs):
        if not self._tracer.active:
            return self._fn(table, *args, **kwargs)
        with self._tracer.span(self._layer, self._name) as sp:
            before = table.current_version()
            out = self._fn(table, *args, **kwargs)
            sp["commit"] = table.current_version() != before
            return out


def _layer_modules():
    for layer in LAYERS:
        pkg = importlib.import_module(f"{PACKAGE}.{layer}")
        yield layer, pkg
        for info in pkgutil.iter_modules(pkg.__path__):
            yield layer, importlib.import_module(f"{pkg.__name__}.{info.name}")


def install(tracer: Tracer) -> None:
    """Wrap the engine's public layer functions and ``ManifestTable``'s
    publish, read-modify-write and ``read*`` methods, rebinding every module
    attribute that refers to a wrapped function (``from x import f``
    included)."""
    wrapped: dict[int, _Traced] = {}
    for layer, mod in _layer_modules():
        for name, obj in vars(mod).items():
            if (
                isinstance(obj, types.FunctionType)
                and obj.__module__ == mod.__name__
                and not name.startswith("_")
                and not hasattr(obj, "evalType")  # a pandas_udf object, built at import
            ):
                wrapped[id(obj)] = _Traced(tracer, layer, obj)
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if not (name == "__spark_entry__" or name.startswith(PACKAGE)):
            continue
        for attr, obj in list(vars(mod).items()):
            if id(obj) in wrapped:
                setattr(mod, attr, wrapped[id(obj)])

    from tinymapreduce_spark.sources.manifest_sink import ManifestTable

    ManifestTable.publish = _TracedPublish(tracer, "manifest", ManifestTable.publish)
    ManifestTable._retry_rmw = _Traced(tracer, "manifest", ManifestTable._retry_rmw)
    for attr, obj in list(vars(ManifestTable).items()):
        if attr.startswith("read") and isinstance(obj, types.FunctionType):
            setattr(ManifestTable, attr, _Traced(tracer, "manifest", obj))


class ProgressListener(StreamingQueryListener):
    """Records every micro-batch's progress; batches are attributed to keys
    later, by their start time, because the listener bus is asynchronous."""

    def __init__(self, sink: list) -> None:
        self._sink = sink

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        self._sink.append({"start": start, "duration_ms": dict(p.durationMs), "rows": p.numInputRows})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def udf_profile(spark, modules: dict[str, str]) -> tuple[float, int, dict]:
    """Drain the perf UDF profiles collected since the last call: total
    worker Python seconds, calls into the engine's own code, and seconds by
    the module of each frame (``modules``: see ``program_modules``)."""
    by_module: dict[str, float] = {}
    total = 0.0
    calls = 0
    for st in spark._profiler_collector._perf_profile_results.values():
        for (filename, _line, _func), (_cc, nc, tt, _ct, _callers) in st.stats.items():
            mod = modules.get(os.path.basename(filename), "other")
            by_module[mod] = by_module.get(mod, 0.0) + tt
            total += tt
            if mod.startswith(PACKAGE):
                calls += nc
    spark.profile.clear(type="perf")
    return total, calls, by_module


def program_modules() -> dict[str, str]:
    """File basename -> dotted module for the engine's modules. The profiler
    keeps only a frame's file basename; the engine's basenames are unique
    apart from ``__init__.py``, which is left out."""
    pkg = importlib.import_module(PACKAGE)
    out = {}
    for info in pkgutil.walk_packages(pkg.__path__, f"{PACKAGE}."):
        if not info.ispkg:
            out[info.name.rsplit(".", 1)[1] + ".py"] = info.name
    return out
