"""Tests of the benchmark's own logic; none of them starts Spark.

Run from the checkout root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.receiver import BackoffRecorder, FaultSchedule, Receiver  # noqa: E402
from perfbench.spans import (  # noqa: E402
    Span, Tracer, TracedState, child_intervals, reconcile, self_times, union_length,
)
from perfbench.stats import percentile, summarize, tail_percentile  # noqa: E402


# -- tail percentile rule -----------------------------------------------------
@pytest.mark.parametrize("n,expected", [
    (0, None), (19, None), (20, None), (39, None), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
    (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected
    if expected is not None:
        assert n * (100 - expected) / 100 >= 10 - 1e-9


def test_summarize_reports_median_tail_and_count():
    xs = list(range(1, 101))  # 1..100
    s = summarize(xs)
    assert s["n"] == 100 and s["p50"] == pytest.approx(50.5)
    assert s["tail_p"] == 90.0 and s["tail"] == pytest.approx(percentile(xs, 90))
    assert sum(x > s["tail"] for x in xs) >= 10
    small = summarize([3.0, 1.0, 2.0])
    assert small["p50"] == 2.0 and small["tail"] is None


# -- fault schedule -----------------------------------------------------------
def test_fault_schedule_depends_on_content_and_attempt_only():
    a = FaultSchedule(seed=5, fail_share=0.3, max_attempts=3, doomed=frozenset({42}))
    b = FaultSchedule(seed=5, fail_share=0.3, max_attempts=3, doomed=frozenset({42}))
    digests = [f"d{i}" for i in range(2000)]
    first = [a.status(d, 1, [1, 2]) for d in digests]
    # same answers in another order and from another instance
    assert [b.status(d, 1, [1, 2]) for d in reversed(digests)] == first[::-1]
    refused = sum(s != 200 for s in first)
    assert 0.25 * len(digests) < refused < 0.35 * len(digests)
    assert set(first) <= {200, 429, 503}
    # a refused body recovers on its second attempt, inside the retry budget
    assert all(a.status(d, 2, [1, 2]) == 200 for d in digests)
    # a doomed row exhausts the budget, then its redelivered copy is accepted
    assert [a.status("x", k, [7, 42]) for k in (1, 2, 3, 4)] == [503, 503, 503, 200]
    # another seed refuses other bodies
    c = FaultSchedule(seed=6, fail_share=0.3)
    assert [c.status(d, 1, [1]) for d in digests] != first


def _body(items):
    return json.dumps([{"operation": "Update", "item": it} for it in items]).encode()


def test_receiver_counts_duplicates_and_egress():
    r = Receiver({"id", "v"}, lambda item: item["id"])
    op = r.begin_op()
    assert r.handle(_body([{"id": 1, "v": 1}, {"id": 2, "v": 2}])) == 200
    assert r.handle(_body([{"id": 2, "v": 2}, {"id": 3, "v": 3}])) == 200
    r.end_op()
    assert op.ids == {1, 2, 3}
    assert op.accepted_rows - len(op.ids) == 1  # row 2 arrived twice
    assert r.counts.bad_keys == 0
    # a column outside the allowlist is flagged per item
    assert r.handle(_body([{"id": 4, "v": 4, "secret": "x"}, {"id": 5}])) == 200
    assert r.counts.bad_keys == 1
    # a body without the row id is malformed and refused
    assert r.handle(_body([{"v": 1}])) == 400
    assert r.counts.bad_bodies == 1
    assert r.counts.posts == 4 and r.counts.body_rows == 6


def test_receiver_refusals_are_not_deliveries_and_attempts_restart_per_op():
    sched = FaultSchedule(seed=1, fail_share=0.0, max_attempts=2, doomed=frozenset({9}))
    r = Receiver({"id"}, lambda item: item["id"], sched)
    body = _body([{"id": 8}, {"id": 9}])
    for _ in range(2):  # the same batch delivered in two operations
        op = r.begin_op()
        assert [r.handle(body) for _ in range(3)] == [503, 503, 200]
        r.end_op()
        assert op.ids == {8, 9} and op.accepted_rows == 2
    assert r.counts.posts == 6 and r.counts.refused == 4 and r.counts.bodies == 2


def test_receiver_server_counts_connections_apart_from_posts(tmp_path):
    r = Receiver({"id"}, lambda item: item["id"])
    url = r.start()
    try:
        for _ in range(3):
            req = urllib.request.Request(url + "/post", data=_body([{"id": 1}]), method="POST")
            with urllib.request.urlopen(req, timeout=10) as resp:
                assert resp.status == 200
    finally:
        r.stop()
    assert r.counts.posts == 3
    assert r.counts.connections == 3  # urllib closes the connection per request


def test_backoff_recorder_appends_requests(tmp_path):
    rec = BackoffRecorder(str(tmp_path / "b.log"))
    assert rec.requested() == []
    rec(10.0)
    rec(11.25)
    assert rec.requested() == [10.0, 11.25]


# -- spans ----------------------------------------------------------------------
def _span(i, start, end, parent=None, name="s"):
    return Span(i, name, start, end, parent, "run")


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([(3, 1)]) == 0


def test_self_time_is_span_minus_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 6.0, parent=1),   # overlaps its sibling
        _span(4, 1.5, 2.0, parent=2),   # grandchild: only counts against 2
        _span(5, 9.0, 12.0, parent=1),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - (5 + 1))
    assert st[2] == pytest.approx(3 - 0.5)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(0.5)
    assert st[5] == pytest.approx(3)


def test_tracer_records_parents_and_disabled_tracer_records_nothing():
    t = Tracer("r")
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, = t.named("outer")
    inner, = t.named("inner")
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer("r", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []
    assert t.wrap("f", lambda x: x + 1)(1) == 2 and len(t.named("f")) == 1


def test_reconcile_a_span_against_its_direct_children():
    batch = _span(1, 0.0, 10.0)
    spans = [
        batch,
        _span(2, 0.0, 4.0, parent=1),    # project
        _span(3, 1.0, 2.0, parent=2),    # its state lookup: a grandchild
        _span(4, 4.2, 9.5, parent=1),    # post
        _span(5, 9.4, 12.0),             # a later batch: not a child
    ]
    kids = child_intervals(spans, batch)
    assert sorted(kids) == [(0.0, 4.0), (4.2, 9.5)]
    # the children cover 9.3 s of the 10 s batch
    assert reconcile(batch.duration, kids) == pytest.approx(0.07)
    assert reconcile(batch.duration, kids) <= 0.10
    # a layer left out of the trace shows as a reconciliation error
    assert reconcile(batch.duration, kids[1:]) > 0.10
    # children running past their parent are clipped to it
    assert child_intervals([batch, _span(6, 9.0, 11.0, parent=1)], batch) == [(9.0, 10.0)]


class _Store:
    """The shape of the engine's StateStore: save_last_error writes through
    the instance's own upsert."""

    def __init__(self):
        self.rows = []

    def upsert(self, entity_type, key, value):
        self.rows.append((entity_type, key, value))

    def save_last_error(self, table, message):
        self.upsert("LastError", table, message)

    def get_allowed_columns(self, table):
        return "a,b"


def test_traced_state_runs_the_stores_own_last_error_path():
    store, t = _Store(), Tracer("r")
    state = TracedState(store, t)
    state.save_last_error("dbo.t", "boom")
    assert store.rows == [("LastError", "dbo.t", "boom")]
    assert state.last_error_calls == 1 and state.upsert_calls == 1
    outer, = t.named("state.save_last_error")
    inner, = t.named("state.upsert")
    assert inner.parent == outer.id
    assert state.get_allowed_columns("dbo.t") == "a,b" and state.get_calls == 1
