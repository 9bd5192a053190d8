import math

import pytest

from measure import (
    Spans,
    host_ops_per_s,
    percentile,
    tail_percentile,
    timing_summary,
    tree_cpu_s,
    tree_pss_mb,
)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(19) is None  # not even the median qualifies
    assert tail_percentile(20) == 50
    assert tail_percentile(30) == 66
    assert tail_percentile(100) == 90
    for n in range(20, 500):
        p = tail_percentile(n)
        assert n - math.ceil(p / 100 * n) >= 10
        if p < 99:
            assert n - math.ceil((p + 1) / 100 * n) < 10  # the highest such p


def test_timing_summary_states_percentile_and_count():
    s = timing_summary([float(x) for x in range(1, 101)])
    assert s == {"n": 100, "p50": 50.5, "tail_pct": 90.0, "tail": 90.0}
    few = timing_summary([3.0, 1.0, 2.0])
    assert few["p50"] == 2.0 and few["tail"] is None and few["n"] == 3


def test_percentile_is_nearest_rank():
    xs = [10.0, 20.0, 30.0, 40.0]
    assert percentile(xs, 50) == 20.0
    assert percentile(xs, 51) == 30.0
    assert percentile(xs, 100) == 40.0


def test_spans_record_parent_and_only_when_enabled():
    class K:
        def f(self, x):
            return x + 1

    spans = Spans()
    spans.wrap(K, "f", "k.f", lambda self, x: {"x": x})
    assert K().f(1) == 2
    assert spans.records == []
    spans.enabled = True
    with spans.span("outer"):
        assert K().f(2) == 3
    inner, outer = spans.records
    assert inner["name"] == "k.f" and inner["x"] == 2
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_process_counters_and_control_are_positive():
    assert tree_cpu_s() > 0
    assert tree_pss_mb() > 0
    assert host_ops_per_s(0.05) > 0


def test_spans_reraise_and_still_record():
    spans = Spans()
    spans.enabled = True
    with pytest.raises(ValueError):
        with spans.span("boom"):
            raise ValueError("x")
    assert [r["name"] for r in spans.records] == ["boom"]


def test_window_leaves_out_high_steal_ops():
    from workloads import STEAL_MAX, WINDOW_CAP, Window

    w = Window()
    for steal in (0.0, STEAL_MAX * 3, 0.01):
        w.add(2.0, 1.0, 100, True, False, steal)
    assert w.measured() == [0, 2]
    assert w.more(4.5)  # 4 s of clean ops so far
    assert not w.more(4.0)
    # a window of nothing but high-steal ops measures them all, and ends
    # at the cap
    w = Window()
    for _ in range(3):
        w.add(2.0, 1.0, 100, True, False, STEAL_MAX * 2)
    assert w.measured() == [0, 1, 2]
    assert w.more(6.0 / WINDOW_CAP + 0.1)
    assert not w.more(6.0 / WINDOW_CAP)


def test_host_steal_is_a_counter():
    from measure import host_steal_s

    a = host_steal_s()
    assert 0.0 <= a <= host_steal_s()
