"""Self-time arithmetic, per-layer aggregation and the tail rule."""

import pytest

from perfbench.tracing import (
    Span,
    covered,
    driver_only_s,
    layer_metrics,
    self_counters,
    self_times,
    tail_percentile,
)


def _span(i, name, parent, start, end, jobs=0):
    return Span(i, name, 0, parent, start, end, counters={"spark_jobs": jobs})


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "op.x", None, 0.0, 10.0, jobs=9),
        _span(1, "io.parse_file", 0, 1.0, 4.0, jobs=3),
        _span(2, "compare.diff", 0, 4.0, 9.0, jobs=5),
        _span(3, "io.inner", 2, 5.0, 6.0, jobs=1),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 2.0, 1: 3.0, 2: 4.0, 3: 1.0})
    sc = self_counters(spans)
    assert [sc[i]["spark_jobs"] for i in range(4)] == [1, 3, 4, 1]

    m = layer_metrics(spans, n_ops=1)
    assert m["io.calls"] == 2
    assert m["io.self_s"] == pytest.approx(4.0)
    assert m["io.spark_jobs"] == 4
    assert m["compare.self_s"] == pytest.approx(4.0)
    assert m["mask.calls"] == 0 and m["mask.self_s"] == 0


def test_driver_only_is_wall_time_without_jobs():
    root = _span(0, "op.x", None, 0.0, 10.0)
    root.job_times = [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]
    assert driver_only_s(root) == pytest.approx(5.0)


@pytest.mark.parametrize(
    "n,pct,rank",
    [(11, 9, 1), (20, 50, 10), (100, 90, 90), (1000, 99, 990), (37, 72, 27)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, pct, rank):
    xs = [float(i) for i in range(n, 0, -1)]  # unsorted input
    p, value, beyond = tail_percentile(xs)
    assert (p, value, beyond) == (pct, float(rank), 10)
    assert sum(x > value for x in xs) == 10


def test_tail_percentile_needs_eleven_samples():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([]) is None
