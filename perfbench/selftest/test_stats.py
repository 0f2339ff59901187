"""The percentile helper reports only percentiles with >= 10 samples
beyond them; the floor helper averages each group's fastest sample."""

import pytest

from perfbench.stats import beyond, floor_mean, percentile, reportable


def test_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([3.0], 99) == 3.0


def test_needs_ten_beyond():
    assert reportable(list(range(19))) == {}
    assert set(reportable(list(range(20)))) == {"p50"}
    assert beyond(99, 90) == 9
    assert "p90" not in reportable(list(range(99)))
    assert set(reportable(list(range(100)))) == {"p50", "p75", "p90"}
    for p, _ in reportable([float(i) for i in range(137)]).items():
        assert beyond(137, int(p[1:])) >= 10


def test_floor_mean():
    assert floor_mean({"or": [9.0, 7.0], "and": [3.0, 1.0, 2.0]}) == 4.0
    with pytest.raises(ValueError):
        floor_mean({"or": []})
