import threading

import pytest

from perfbench.spans import Span, Tracer, overlap, self_times, union_length


def test_union_length_merges_overlaps_and_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_children_once():
    spans = [
        Span(1, None, "parent", 0.0, 10.0),
        Span(2, 1, "child", 1.0, 3.0),
        Span(3, 1, "child", 2.0, 5.0),  # overlaps its sibling: counted once
        Span(4, 1, "other", 7.0, 8.0),
        Span(5, 4, "grandchild", 7.25, 7.75),
        Span(6, None, "parent", 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st["parent"] == pytest.approx((10 - 4 - 1) + 1)
    assert st["child"] == pytest.approx(2 + 3)
    assert st["other"] == pytest.approx(0.5)
    assert st["grandchild"] == pytest.approx(0.5)
    # self times tile the root spans, except where siblings overlap (1 s)
    assert sum(st.values()) == pytest.approx(10 + 1 + 1)


def test_child_outside_parent_is_clipped():
    spans = [Span(1, None, "p", 0.0, 2.0), Span(2, 1, "c", 1.0, 5.0)]
    assert self_times(spans)["p"] == pytest.approx(1.0)


def test_overlap_with_cover():
    assert overlap([(0, 10)], [(2, 4), (3, 5), (8, 20)]) == pytest.approx(5.0)
    assert overlap([(0, 1)], []) == 0.0


def test_tracer_records_nesting_per_thread():
    t = [0.0]

    def clock():
        t[0] += 1.0
        return t[0]

    tr = Tracer(clock=clock)

    def inner():
        return 7

    def outer():
        return w_inner() + 1

    w_inner = tr.wrap("inner", inner)
    w_outer = tr.wrap("outer", outer)
    assert w_outer() == 8  # disabled: no spans
    assert tr.spans == []
    tr.enabled = True
    returned = []
    w_cb = tr.wrap("cb", inner, on_return=lambda r, a, k, end: returned.append((r, end)))
    assert w_outer() == 8
    assert w_cb() == 7
    inner_s, outer_s, cb_s = tr.spans
    assert (outer_s.name, outer_s.parent) == ("outer", None)
    assert (inner_s.name, inner_s.parent) == ("inner", outer_s.id)
    assert returned == [(7, cb_s.end)]
    st = self_times(tr.spans)
    assert st["outer"] == pytest.approx((outer_s.end - outer_s.start) - (inner_s.end - inner_s.start))

    # another thread starts its own stack
    th = threading.Thread(target=w_inner)
    th.start()
    th.join()
    assert tr.spans[-1].parent is None


class _Target:
    def meth(self, x):
        return x + 1

    @classmethod
    def cm(cls, x):
        return (cls, x)

    @staticmethod
    def sm(x):
        return x * 2


def test_patch_keeps_method_kinds_and_unpatches():
    tr = Tracer()
    tr.enabled = True
    for attr in ("meth", "cm", "sm"):
        tr.patch(_Target, attr, f"t.{attr}")
    assert _Target().meth(1) == 2
    assert _Target.cm(3) == (_Target, 3)
    assert _Target.sm(4) == 8
    assert [s.name for s in tr.spans] == ["t.meth", "t.cm", "t.sm"]
    tr.unpatch()
    assert "cm" in _Target.__dict__ and isinstance(_Target.__dict__["cm"], classmethod)
    n = len(tr.spans)
    _Target().meth(1)
    assert len(tr.spans) == n
