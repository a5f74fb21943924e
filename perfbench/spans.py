"""In-memory spans around the calls the benchmark makes into each layer.

A span records a name, its start and end (``perf_counter`` seconds) and
the span that was open when it started. Spans stay in memory while a pass
runs and are written out once, when the run ends.

``Tracer.patch`` swaps a module-level function for a recording wrapper in
every loaded ``terasort_spark`` module that bound it by name (operators do
``from terasort_spark.catalog import table``), and ``restore`` puts the
originals back.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, module_name: str, attr: str, span_name: str) -> None:
        """Record a span around every call of ``module_name.attr``, also
        through by-name bindings of the same function in other modules."""
        original = getattr(sys.modules[module_name], attr)
        wrapper = self.wrap(span_name, original)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("terasort_spark") or mod is None:
                continue
            if getattr(mod, attr, None) is original:
                self._patched.append((mod, attr, original))
                setattr(mod, attr, wrapper)

    def restore(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    # ---------------------------------------------------------- summaries
    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def self_time(self, name: str, exclude: str) -> float:
        """Total time of ``name`` spans minus the time of their ``exclude``
        descendants."""
        inner = 0.0
        for s in self.spans:
            if s.name == exclude and self._has_ancestor(s, name):
                inner += s.seconds
        return self.total(name) - inner

    def _has_ancestor(self, span: Span, name: str) -> bool:
        p = span.parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
