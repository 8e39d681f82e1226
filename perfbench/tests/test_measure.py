"""The timed loop's pairing of untraced and traced operations (no Spark)."""

from __future__ import annotations

from contextlib import contextmanager
from types import SimpleNamespace

import gen
import run
from workloads import OpResult


class FakeConf:
    def set(self, _key, _value) -> None:
        pass

    def unset(self, _key) -> None:
        pass


class FakeTracer:
    active = False

    @contextmanager
    def operation(self, _op, _name):
        yield SimpleNamespace(attrs={}, extra_groups=[])


class RequestLog:
    """Records which request each operation ran and whether it was traced."""

    name = "fake"

    def __init__(self, tracer):
        self.tracer = tracer
        self.runs: list[tuple[int, bool]] = []

    def run_op(self, i: int) -> OpResult:
        self.runs.append((i, self.tracer is not None and self.tracer.active))
        return OpResult(0.001, 1, [0.001])


def test_traced_run_makes_each_request_untraced_then_traced():
    tracer = FakeTracer()
    wl = RequestLog(tracer)
    results, spans, failed = run.measure(wl, SimpleNamespace(conf=FakeConf()), 0.05, tracer)
    assert failed == 0 and len(spans) == sum(t for t, _ in results)
    pairs = list(zip(wl.runs[::2], wl.runs[1::2]))
    assert len(pairs) >= len(gen.KIND_CYCLE)
    for (i_plain, traced_plain), (i_traced, traced) in pairs:
        assert i_plain == i_traced and not traced_plain and traced
    # so every kind of search request is among the traced ones
    kinds = {gen.KIND_CYCLE[i % len(gen.KIND_CYCLE)] for i, traced in wl.runs if traced}
    assert kinds == set(gen.REQUEST_MIX)


def test_untraced_run_makes_each_request_once():
    wl = RequestLog(None)
    run.measure(wl, SimpleNamespace(conf=FakeConf()), 0.02, None)
    assert [i for i, _ in wl.runs] == list(range(len(wl.runs)))
    assert not any(t for _, t in wl.runs)
