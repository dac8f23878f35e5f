"""Time the calls into the program's modules from outside the program.

``Tracer.install`` replaces every public function of the traced modules
with a timing wrapper, both as a module attribute and wherever another
module of the package imported it by name, so callers reach the wrapper
whichever way they bound the function. ``uninstall`` puts the originals
back. Each wrapper records inclusive time and a call count for its
function, and self time (inclusive time minus the time of traced calls it
made) for its module.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "hhek2sqlite_spark"
TRACED_MODULES = (
    "session",
    "plans.hhek",
    "operators.util",
    "operators.dedup",
    "operators.similarity",
    "operators.graph",
    "sources.parquet",
    "sources.sqlite_io",
    "sources.jet2",
    "sources.jet2_index",
    "sources.mdb",
)


class Tracer:
    def __init__(self):
        self.inclusive: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.self_time: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[float] = []
        self._originals: dict[int, tuple[object, object]] = {}
        self._rebound: list[tuple[object, str, object]] = []

    def reset(self) -> None:
        for d in (self.inclusive, self.calls, self.self_time, self.counts):
            d.clear()

    def _wrap(self, module: str, fn):
        key = f"{module}.{fn.__name__}"
        tracer = self

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            tracer._stack.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                children = tracer._stack.pop()
                if tracer._stack:
                    tracer._stack[-1] += dt
                tracer.inclusive[key] += dt
                tracer.calls[key] += 1
                tracer.self_time[module] += dt - children

        return timed

    def install(self) -> None:
        for short in TRACED_MODULES:
            mod = importlib.import_module(f"{PACKAGE}.{short}")
            for name, fn in vars(mod).items():
                if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                self._originals[id(fn)] = (fn, self._wrap(short, fn))
        for mod in [m for n, m in sys.modules.items() if n == PACKAGE or n.startswith(PACKAGE + ".")]:
            for name, value in list(vars(mod).items()):
                pair = self._originals.get(id(value))
                if pair is not None and pair[0] is value:
                    setattr(mod, name, pair[1])
                    self._rebound.append((mod, name, value))

    def uninstall(self) -> None:
        for mod, name, original in self._rebound:
            setattr(mod, name, original)
        self._rebound.clear()
        self._originals.clear()

    @contextmanager
    def span(self, key: str):
        """Time a block of benchmark code as if it were a traced call."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.inclusive[key] += time.perf_counter() - t0
            self.calls[key] += 1
