import types

import pytest

from cdcbench.trace import Span, Tracer, self_times


def test_self_time_subtracts_children():
    spans = [
        Span(1, None, "root", "r", 0.0, 10.0),
        Span(2, 1, "a", "r", 1.0, 3.0),
        Span(3, 1, "b", "r", 5.0, 9.0),
        Span(4, 3, "c", "r", 6.0, 7.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 2 - 4)
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(4 - 1)
    assert st[4] == pytest.approx(1)


def test_self_time_counts_overlapping_children_once():
    # children from two threads under one parent overlap in time
    spans = [
        Span(1, None, "root", None, 0.0, 10.0),
        Span(2, 1, "a", None, 2.0, 6.0),
        Span(3, 1, "b", None, 4.0, 8.0),
        Span(4, 1, "c", None, 9.0, 12.0),  # clipped to the parent's end
    ]
    assert self_times(spans)[1] == pytest.approx(10 - 6 - 1)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_nested_spans_record_parents_and_requests():
    clock = FakeClock()
    tr = Tracer(clock)
    with tr.span("outer", request="batch-7"):
        clock.t = 1.0
        with tr.span("inner"):
            clock.t = 3.0
        clock.t = 4.0
    inner, outer = tr.spans  # recorded as they close
    assert (outer.name, outer.parent, outer.request) == ("outer", None, "batch-7")
    assert (inner.parent, inner.request) == (outer.id, "batch-7")
    assert self_times(tr.spans) == {outer.id: 2.0, inner.id: 2.0}


def test_nested_span_keeps_the_root_request():
    tr = Tracer()
    with tr.span("op.write", request="r3-merge"):
        with tr.span("lake.merge", request="batch-3"):
            pass
    inner, outer = tr.spans
    assert inner.request == outer.request == "r3-merge"


def test_wrap_records_spans_and_restore_undoes_it():
    mod = types.SimpleNamespace(work=lambda x, batch_id=0: x * 2)
    original = mod.work
    tr = Tracer()
    tr.wrap(mod, "work", "layer.work",
            on_call=lambda s, a, k, r: s.attrs.update(result=r),
            request_of=lambda a, k: f"batch-{k.get('batch_id')}")
    assert mod.work(21, batch_id=3) == 42
    (span,) = tr.spans
    assert span.name == "layer.work" and span.request == "batch-3"
    assert span.attrs == {"result": 42}
    with tr.suspended():
        mod.work(1)
    assert len(tr.spans) == 1
    tr.restore()
    assert mod.work is original
