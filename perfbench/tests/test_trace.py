"""Spans, job-group tagging and module wrapping, with a stand-in context.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench.trace import Tracer  # noqa: E402


class _Jsc:
    def __init__(self, log):
        self.log = log

    def clearJobGroup(self):
        self.log.append(None)


class _Context:
    """Records the job group Spark work would run under."""

    def __init__(self):
        self.groups: list[str | None] = []
        self._jsc = _Jsc(self.groups)

    def setJobGroup(self, group_id, description):
        self.groups.append(group_id)


def _tracer():
    tracer = Tracer(enabled=True)
    sc = _Context()
    tracer.bind(types.SimpleNamespace(sparkContext=sc))
    return tracer, sc


def test_spans_nest_and_restore_the_enclosing_job_group():
    tracer, sc = _tracer()
    with tracer.span("p", "pass") as outer:
        with tracer.span("q", "op") as inner:
            pass
    assert inner.parent == outer.id
    assert sc.groups == [outer.id, inner.id, outer.id, None]
    assert tracer.self_time(outer) == outer.duration - inner.duration


def test_a_disabled_tracer_records_nothing():
    tracer = Tracer(enabled=False)
    with tracer.span("p", "pass") as sp:
        assert sp is None
    assert tracer.spans == []


def test_wrapped_module_counts_the_outermost_call_of_a_layer_once():
    mod = types.ModuleType("fake_layer")

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    def _private(x):
        return x

    for fn in (inner, outer, _private):
        fn.__module__ = mod.__name__
        setattr(mod, fn.__name__, fn)
    tracer, _ = _tracer()
    tracer.wrap_module(mod, "graph")
    assert mod._private is _private
    assert mod.outer(1) == 4
    assert [s.name for s in tracer.spans] == ["graph"]
    tracer.unwrap_all()
    assert mod.outer is outer and mod.inner is inner
