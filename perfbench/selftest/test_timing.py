"""A timed loop stops at the whole-operation count nearest its seconds."""

import time

from perfbench.workloads import more_time


def test_first_operation_always_runs():
    assert more_time(time.perf_counter(), 0.0, 0)


def test_stops_nearest_the_budget():
    now = time.perf_counter()
    # 2 operations took 10 s, so a third would end near 15 s
    assert more_time(now - 10.0, 13.0, 2)  # 15 s is nearer 13 s than 10 s
    assert not more_time(now - 10.0, 12.0, 2)  # 10 s is nearer 12 s
    assert not more_time(now - 16.0, 15.0, 3)
