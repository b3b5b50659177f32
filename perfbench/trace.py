"""Spans around calls into the program's layers, recorded from outside.

``Tracer.span`` opens a span, tags the Spark work started inside it with
``sc.setJobGroup(<span id>)`` so the event log can be rolled up per span,
and restores the enclosing span's group on exit.  ``Tracer.wrap_module``
replaces a module's public functions with wrappers that open a span per
call; the program's source is untouched.  Nested calls into the same layer
count once, at the outermost call.
"""

from __future__ import annotations

import functools
import inspect
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    kind: str  # "pass", "op", "phase", "layer", "bench", "setup"
    parent: str | None
    start: float
    end: float = 0.0
    #: facts recorded at the boundary (counts the span owns)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``enabled=False`` makes every span a no-op so
    the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._open_layers: set[str] = set()
        self._restore: list[tuple[object, str, object]] = []
        self._sc = None
        #: seconds the driver thread spent in tracing bookkeeping
        self.overhead_s = 0.0

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext if spark is not None else None

    def _set_group(self, span_id: str | None) -> None:
        if self._sc is None:
            return
        if span_id is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(span_id, span_id)

    @contextmanager
    def span(self, name: str, kind: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"{kind}:{name}#{len(self.spans)}", name, kind, parent.id if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.id)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.id if parent else None)
            self.overhead_s += time.perf_counter() - sp.end

    def wrap(self, owner, attr: str, layer: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a wrapper that opens a ``layer`` span
        per outermost call; ``on_result(span, result)`` may record counts."""
        fn = getattr(owner, attr)
        tracer = self

        # functools.wraps copies the module and qualified name, so a UDF that
        # captures a wrapped function is pickled by reference and the Python
        # workers run the original
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if layer in tracer._open_layers:
                return fn(*args, **kwargs)
            tracer._open_layers.add(layer)
            try:
                with tracer.span(layer, "layer") as sp:
                    result = fn(*args, **kwargs)
                    if on_result is not None:
                        t0 = time.perf_counter()
                        on_result(sp, result)
                        tracer.overhead_s += time.perf_counter() - t0
                    return result
            finally:
                tracer._open_layers.discard(layer)

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def wrap_module(self, module, layer: str) -> None:
        """Wrap every public function defined in ``module``."""
        for attr, obj in list(vars(module).items()):
            if attr.startswith("_") or not inspect.isfunction(obj):
                continue
            if obj.__module__ == module.__name__:
                self.wrap(module, attr, layer)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    # -- queries over the recorded spans ---------------------------------

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        return span.duration - sum(c.duration for c in self.children(span))
