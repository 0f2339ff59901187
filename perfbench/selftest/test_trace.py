"""Span recorder and event-log reader."""

import os

from perfbench.trace import Span, Tracer, jobs_in, read_event_log, sum_jobs

LOG = os.path.join(os.path.dirname(__file__), "data", "events.jsonl")


def test_event_log_reader():
    jobs = read_event_log(LOG)
    assert [j.job_id for j in jobs] == [0, 1, 2]
    j0, j1, j2 = jobs
    assert (j0.group, j0.stages, j0.tasks) == ("perfbench-7", 1, 2)
    assert (j0.cpu_ns, j0.gc_ms, j0.shuffle_write_bytes) == (251388341, 50,
                                                             364)
    # stage 1 was skipped: it never completed, so only stage 2 counts
    assert (j1.stages, j1.tasks, j1.spill_bytes) == (1, 1, 5120)
    assert (j2.group, j2.output_bytes) == (None, 9000)
    assert j0.module == "query.wand"
    assert j2.module == "index.merge"
    j2.callsite = "run at ThreadPoolExecutor.java:1136"
    assert j2.module == "spark"


def test_jobs_charged_to_spans():
    jobs = read_event_log(LOG)
    group_span = Span("q", op=1, sid=7, parent=None, start=1.0, end=4.0,
                      jobs=[0, 1])
    # job 2 has no job group: charged by submission time (5.0 s)
    pool_span = Span("build", op=2, sid=8, parent=None, start=4.5, end=6.0)
    assert [j.job_id for j in jobs_in(group_span, jobs)] == [0, 1]
    assert [j.job_id for j in jobs_in(pool_span, jobs)] == [2]
    total = sum_jobs(jobs)
    assert (total["jobs"], total["stages"], total["tasks"]) == (3, 3, 7)


def test_disabled_tracer_nests_spans():
    tr = Tracer()
    with tr.span("outer", op=tr.new_op()) as outer:
        with tr.span("inner") as inner:
            pass
    with tr.span("next", op=tr.new_op()) as nxt:
        pass
    assert inner.parent == outer.sid and inner.op == outer.op
    assert nxt.parent is None and nxt.op != outer.op
    assert tr.children(outer) == [inner]
    assert outer.end >= inner.end >= inner.start >= outer.start
