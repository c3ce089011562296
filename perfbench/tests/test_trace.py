"""Span self-time arithmetic and the tracing helpers."""
from __future__ import annotations

import concurrent.futures
import types

import pytest

from perfbench.trace import (
    SerialExecutor,
    Span,
    Tracer,
    patched,
    self_times,
    union_length,
)


def span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, parent, "run", end=end)


def test_union_length_merges_overlaps_and_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 4), (1, 2), (3, 5)]) == 5.0


def test_self_time_subtracts_disjoint_children():
    spans = [span(0, 0.0, 10.0), span(1, 1.0, 3.0, 0), span(2, 5.0, 9.0, 0),
             span(3, 6.0, 7.0, 2)]
    st = self_times(spans)
    assert st == pytest.approx({0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0})
    # nested, non-overlapping spans: self times sum to the root's wall
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    # two concurrent children covering [1, 6] between them
    spans = [span(0, 0.0, 10.0), span(1, 1.0, 5.0, 0), span(2, 3.0, 6.0, 0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    # overlap (2 s) is the excess of the self-time sum over the wall
    assert sum(st.values()) - 10.0 == pytest.approx(2.0)


def test_self_time_clips_children_to_parent():
    spans = [span(0, 0.0, 4.0), span(1, 3.0, 6.0, 0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_tracer_nests_spans_and_wraps_calls():
    tr = Tracer("r1")

    def layer(x):
        return x + 1

    wrapped = tr.wrap("layer", layer,
                      lambda out, sp, args, kw: sp.attrs.update(n=out) or out)
    with tr.span("root"):
        assert wrapped(1) == 2
    root, child = tr.spans
    assert child.parent == root.span_id and root.parent is None
    assert child.attrs == {"n": 2} and child.run_id == "r1"
    assert root.start <= child.start <= child.end <= root.end


def test_span_closes_when_the_call_raises():
    tr = Tracer("r")
    with pytest.raises(ValueError):
        with tr.span("boom"):
            raise ValueError
    assert tr.spans[0].end is not None
    with tr.span("next"):
        pass
    assert tr.spans[1].parent is None


def test_patched_restores_attributes():
    ns = types.SimpleNamespace(f=1)
    with pytest.raises(RuntimeError):
        with patched([(ns, "f", 2)]):
            assert ns.f == 2
            raise RuntimeError
    assert ns.f == 1


def test_serial_executor_runs_in_caller_and_keeps_errors():
    with patched([(concurrent.futures, "ThreadPoolExecutor",
                   SerialExecutor)]):
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=1)
        assert pool.submit(lambda a: a * 2, 3).result() == 6
        fut = pool.submit(lambda: 1 / 0)
        pool.shutdown(wait=True)
    with pytest.raises(ZeroDivisionError):
        fut.result()
    assert concurrent.futures.ThreadPoolExecutor is not SerialExecutor
