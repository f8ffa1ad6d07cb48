"""Spans around the calls into each ``homelogging_spark`` layer.

A traced run wraps every public function of the layer modules below, so
each call records a span: layer, function, start, end, the span that
caused it, and the label (query or cycle step) the benchmark was running.
Nothing inside the program changes; the wrappers only time the calls.

The registries bind operator functions when they are imported, so
:meth:`Tracer.install` wraps the layer modules first, then imports the
plans, then rebinds every name in every loaded ``homelogging_spark``
module that still holds an unwrapped original.

A layer's self time is its span minus the part of it covered by its child
spans; :meth:`Tracer.self_times` computes it per layer.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time

# layer name -> modules whose public functions are wrapped
_OPERATOR_MODULES = (
    "aggregations", "battery", "chunking", "clustering", "controllers",
    "counters", "dedup", "ingest", "joins", "maintenance", "multimodal",
    "opq_rotations", "packing", "profiling", "sampling", "scheduling",
    "sharding", "similarity", "sketches", "textops", "tokenize", "tsmatch",
    "urlops",
)


def layer_modules() -> dict[str, list[str]]:
    """Layer name -> the module names that make it up."""
    import homelogging_spark.sources as sources_pkg

    layers = {
        "session": ["homelogging_spark.session"],
        "tables": ["homelogging_spark.tables"],
        "functions.cachelife": ["homelogging_spark.functions.cachelife"],
        "streaming": [
            "homelogging_spark.streaming.pipeline",
            "homelogging_spark.streaming.stateful",
        ],
        "sources": [
            f"homelogging_spark.sources.{m.name}"
            for m in pkgutil.iter_modules(sources_pkg.__path__)
        ],
    }
    for m in _OPERATOR_MODULES:
        layers[f"operators.{m}"] = [f"homelogging_spark.operators.{m}"]
    return layers


OPERATOR_LAYERS = tuple(f"operators.{m}" for m in _OPERATOR_MODULES)


class Tracer:
    """Records spans in memory; the benchmark reads them when it ends."""

    def __init__(self) -> None:
        # span: [layer, function, start, end, parent index, label]
        self.spans: list[list] = []
        self.label = ""
        self.enabled = True
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, layer: str, name: str) -> int:
        stack = self._stack()
        span = [layer, name, time.time(), None, stack[-1] if stack else -1, self.label]
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx][3] = time.time()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        """A span the benchmark itself opens around a call into a layer."""
        if not self.enabled:
            yield
            return
        idx = self.open(layer, name)
        try:
            yield
        finally:
            self.close(idx)

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            idx = self.open(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        traced.__telbench_original__ = fn
        return traced

    def install(self) -> None:
        """Wrap every layer's public functions, then import the plans
        and rebind any name that still holds an unwrapped original. The
        calls the imports make (the registries build some oracles when they
        are imported) record no spans."""
        self.enabled = False
        originals: dict[int, object] = {}
        for layer, names in layer_modules().items():
            for modname in names:
                mod = importlib.import_module(modname)
                for attr, obj in list(vars(mod).items()):
                    if (
                        attr.startswith("_")
                        or not inspect.isfunction(obj)
                        or obj.__module__ != modname
                        or hasattr(obj, "__telbench_original__")
                    ):
                        continue
                    wrapped = self.wrap(layer, obj)
                    setattr(mod, attr, wrapped)
                    originals[id(obj)] = wrapped
        importlib.import_module("homelogging_spark.plans.registry")
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("homelogging_spark") or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                wrapped = originals.get(id(obj))
                if wrapped is not None and inspect.isfunction(obj):
                    setattr(mod, attr, wrapped)
        self.enabled = True

    def self_times(self, since: int = 0, until: int | None = None) -> dict[tuple[str, str], list]:
        """(layer, function) -> [self seconds, calls, inclusive seconds]
        over the closed spans with index in ``[since, until)``. A span's
        self time is its duration minus its children's (children of one
        thread nest, so their intervals never overlap)."""
        spans = self.spans[since:until]
        child_time: dict[int, float] = {}
        for s in spans:
            if s[3] is not None and s[4] >= 0:
                child_time[s[4]] = child_time.get(s[4], 0.0) + (s[3] - s[2])
        out: dict[tuple[str, str], list] = {}
        for i, s in enumerate(spans, start=since):
            if s[3] is None:
                continue
            dur = s[3] - s[2]
            acc = out.setdefault((s[0], s[1]), [0.0, 0, 0.0])
            acc[0] += max(dur - child_time.get(i, 0.0), 0.0)
            acc[1] += 1
            acc[2] += dur
        return out
