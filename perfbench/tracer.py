"""Spans around the engine's layers, recorded from outside the package.

``Tracer.install`` replaces each public function of a traced module with a
wrapper, in that module and in every loaded ``arrowhouse_spark`` module that
imported the same function object with ``from ... import``. Calls made through
a name bound later, such as the suite's function-local imports, go through
the module attribute and so are wrapped too. The wrapper keeps the wrapped
function's ``__module__`` and ``__qualname__``, and is itself the module
attribute, so cloudpickle still ships such a function to Python workers by
reference, where the worker imports the unwrapped original.

A span is (id, name, layer, start, end, parent, query). Spans live in memory
until the run writes them out. The parent is the innermost open span of the
same thread; a span opened in a pool thread takes the query's current phase
span as its parent. A layer's self time is its spans' durations minus the
part of each span that its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

PKG = "arrowhouse_spark"

#: layer name -> modules whose public functions make up the layer
OPERATOR_MODULES = (
    "dedup",
    "similarity",
    "text",
    "bpe",
    "merge",
    "components",
    "forget",
    "sampling",
    "aggstate",
    "groupby_limit",
)
SOURCE_MODULES = (
    "binaryfile",
    "bucketed",
    "memory",
    "parquet",
    "pyds",
    "shards",
    "text_formats",
)
LAYERS: dict[str, tuple[str, ...]] = {
    **{f"operators.{m}": (f"{PKG}.operators.{m}",) for m in OPERATOR_MODULES},
    "streaming.replace": (f"{PKG}.streaming.replace",),
    "sources": tuple(f"{PKG}.sources.{m}" for m in SOURCE_MODULES),
}
#: single functions traced as their own layer: layer -> (module, function)
FUNCTION_LAYERS = {"compile.apply_program": (f"{PKG}.compile", "apply_program")}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    query: str | None


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.query: str | None = None
        self.phase_span: int | None = None  # parent for pool-thread spans
        self.cache = {"hits": 0, "misses": 0, "evictions": 0}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str) -> tuple[int, int | None, float]:
        stack = self._stack()
        parent = stack[-1] if stack else self.phase_span
        sid = next(self._ids)
        stack.append(sid)
        return sid, parent, time.time()

    def close(self, handle, name: str, layer: str) -> None:
        sid, parent, start = handle
        end = time.time()
        self._stack().pop()
        with self._lock:
            self.spans.append(Span(sid, name, layer, start, end, parent, self.query))

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """A span around a block; yields the span's id."""
        handle = self.open(name, layer)
        try:
            yield handle[0]
        finally:
            self.close(handle, name, layer)

    # -- wrapping ------------------------------------------------------------
    def _wrap(self, layer: str, fn):
        tracer = self
        name = f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            handle = tracer.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(handle, name, layer)

        return wrapper

    def _replace_everywhere(self, original, replacement) -> None:
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, replacement)

    def install(self) -> None:
        """Wrap every traced layer and the two cache entry points."""
        importlib.import_module(f"{PKG}.suite")
        targets: list[tuple[str, object]] = []
        for layer, modules in LAYERS.items():
            for modname in modules:
                mod = importlib.import_module(modname)
                for attr, val in vars(mod).items():
                    if (
                        not attr.startswith("_")
                        and inspect.isfunction(val)
                        and val.__module__ == modname
                    ):
                        targets.append((layer, val))
        for layer, (modname, attr) in FUNCTION_LAYERS.items():
            targets.append((layer, getattr(importlib.import_module(modname), attr)))
        for layer, fn in targets:
            self._replace_everywhere(fn, self._wrap(layer, fn))
        self._install_cache_counters()

    def _install_cache_counters(self) -> None:
        dedup = importlib.import_module(f"{PKG}.operators.dedup")
        suite = importlib.import_module(f"{PKG}.suite")
        tracer = self
        shared_persist, rel_cached = dedup._shared_persist, suite._rel_cached

        @functools.wraps(shared_persist)
        def counted_shared_persist(df, tag):
            if not tracer.enabled:
                return shared_persist(df, tag)
            live = {id(x) for dfs in dedup._CACHE_REGISTRY.values() for x in dfs}
            before = dedup.EVICTIONS
            out = shared_persist(df, tag)
            tracer._count(id(out) in live, dedup.EVICTIONS - before)
            return out

        @functools.wraps(rel_cached)
        def counted_rel_cached(key, build):
            if not tracer.enabled:
                return rel_cached(key, build)
            tracer._count(suite._REL_CACHE.get(key) is not None, 0)
            return rel_cached(key, build)

        class EvictionCountingDict(dict):
            # _rel_cached evicts with pop(); release_rel_caches() clears
            def pop(self, *args):
                if tracer.enabled:
                    tracer._count(None, 1)
                return super().pop(*args)

        self._replace_everywhere(shared_persist, counted_shared_persist)
        self._replace_everywhere(rel_cached, counted_rel_cached)
        self._replace_everywhere(suite._REL_CACHE, EvictionCountingDict(suite._REL_CACHE))

    def _count(self, hit: bool | None, evictions: int) -> None:
        """Count a lookup (``hit`` True or False) and evictions."""
        with self._lock:
            if hit is not None:
                self.cache["hits" if hit else "misses"] += 1
            self.cache["evictions"] += evictions

    # -- output --------------------------------------------------------------
    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def layer_times(spans: list[Span]) -> dict[str, dict[str, dict[str, float]]]:
    """Per query: ``{layer: {"self_s", "total_s", "calls"}}``.

    Self time is a span's duration minus the union of its children's
    intervals, clipped to the span.
    """
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, dict[str, dict[str, float]]] = defaultdict(
        lambda: defaultdict(lambda: {"self_s": 0.0, "total_s": 0.0, "calls": 0})
    )
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            cs, ce = max(c.start, s.start), min(c.end, s.end)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        agg = out[s.query][s.layer]
        agg["self_s"] += (s.end - s.start) - covered
        agg["total_s"] += s.end - s.start
        agg["calls"] += 1
    return out
