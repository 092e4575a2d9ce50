import statistics

import pytest

from spans import TAIL_BEYOND, Span, self_times, tail


@pytest.mark.parametrize("n", [21, 30, 40, 100])
def test_tail_has_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    value, pct = tail(values)
    assert sum(v > value for v in values) == TAIL_BEYOND
    assert pct == pytest.approx(100.0 * (n - TAIL_BEYOND) / n)
    assert pct > 50.0


@pytest.mark.parametrize("n", [1, 5, 10, 11, 20])
def test_small_sample_tail_falls_back_to_median(n):
    values = [float(i) for i in range(n)]
    assert tail(values) == (statistics.median(values), 50.0)


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0] * 10
    assert tail(values) == tail(sorted(values))


def test_tail_of_empty_sample_raises():
    with pytest.raises(ValueError):
        tail([])


def _span(i, parent, start, end):
    return Span(span_id=i, name=f"s{i}", layer="l", kind="inner", op_id=1,
                parent=parent, start=start, end=end)


def test_self_time_merges_overlapping_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),   # overlaps span 1: [1, 6] is covered once
        _span(3, 0, 8.0, 12.0),  # runs past its parent: only [8, 10] counts
        _span(4, 1, 1.5, 2.0),   # grandchild: inside span 1, not span 0
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert selfs[1] == pytest.approx(3.0 - 0.5)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[4] == pytest.approx(0.5)


def test_self_time_of_nested_children_sharing_an_edge():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 0.0, 2.0), _span(2, 0, 2.0, 4.0)]
    assert self_times(spans)[0] == pytest.approx(0.0)


def test_cpu_clock_reads_this_process_cpu_time():
    import os
    import time

    from spans import cpu_clock

    clock = cpu_clock(os.getpid())
    a, p = time.clock_gettime(clock), time.process_time()
    sum(i * i for i in range(200_000))  # burn some CPU
    b, q = time.clock_gettime(clock), time.process_time()
    assert b - a == pytest.approx(q - p, rel=0.2, abs=0.005)
    assert b - a > 0
