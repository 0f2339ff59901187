"""Traced-run tooling, all of it outside the engine.

- `Tracer` keeps spans in memory.  Each span has a name, start, end,
  parent span and operation id, sets the Spark job group to its own id
  while open, and records the Spark jobs, stages and tasks started inside
  it (from `statusTracker()`) and the py4j round trips made inside it.
- `Py4jCounter` counts py4j commands by wrapping the gateway client's
  `send_command`; it is installed only in a traced run.
- `read_event_log` parses a Spark JSON event log into per-job records
  (stage count, tasks, shuffle/spill/output bytes, CPU and GC time, the
  job group and the call site) so jobs can be charged to spans and to the
  engine module that issued them.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, field

# py4j commands that are not round trips made by the program: the memory
# command is sent from Python garbage collection, whose timing varies
_MEMORY_COMMAND = "m\n"


class Py4jCounter:
    """Counts py4j commands sent by the driver."""

    def __init__(self) -> None:
        self.calls = 0
        self._client = None
        self._orig = None

    def install(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith(_MEMORY_COMMAND):
                self.calls += 1
            return orig(command, *args, **kwargs)

        client.send_command = counted
        self._client, self._orig = client, orig

    def uninstall(self) -> None:
        if self._client is not None:
            self._client.send_command = self._orig
            self._client = None


@dataclass
class Span:
    name: str
    op: int  # operation id shared by the spans of one operation
    sid: int
    parent: int | None
    start: float  # time.time() seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    py4j: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"


class Tracer:
    """In-memory span recorder.  A disabled tracer only times spans."""

    def __init__(self, spark=None, py4j: Py4jCounter | None = None):
        self.spark = spark
        self.py4j = py4j
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0

    @property
    def enabled(self) -> bool:
        return self.spark is not None

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    def span(self, name: str, op: int | None = None, **attrs):
        return _SpanCtx(self, name, op, attrs)

    def _open(self, name: str, op: int | None, attrs: dict) -> Span:
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = parent.op if parent else self.new_op()
        s = Span(name=name, op=op, sid=len(self.spans) + 1,
                 parent=parent.sid if parent else None, start=time.time(),
                 attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            sc = self.spark.sparkContext
            sc.setJobGroup(s.group, name)
            s.py4j = self.py4j.calls if self.py4j else 0
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()
        if not self.enabled:
            return
        if self.py4j:
            s.py4j = self.py4j.calls - s.py4j
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
        seen: set[int] = set()
        for jid in s.jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if sid in seen or st is None or st.numCompletedTasks == 0:
                    continue  # skipped (reused) stages ran no tasks
                seen.add(sid)
                s.tasks += st.numCompletedTasks
        s.stages = len(seen)
        if self._stack:
            sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op, attrs: dict):
        self.tracer, self.name, self.op, self.attrs = tracer, name, op, attrs
        self.span: Span | None = None

    def __enter__(self) -> Span:
        self.span = self.tracer._open(self.name, self.op, self.attrs)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.span)


# -- Spark event log ---------------------------------------------------------

_METRICS = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
}
_CALLSITE_FILE = re.compile(r" at (\S+?\.py):\d+")


@dataclass
class JobRecord:
    job_id: int
    submitted_ms: int
    group: str | None
    callsite: str
    stages: int = 0
    tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0

    @property
    def module(self) -> str:
        """Dotted engine module named by the call site, e.g.
        `query.wand` for `collect at /x/xapian_spark/query/wand.py:133`;
        the file name for other Python callers; `spark` for jobs Spark
        submits from its own threads (adaptive query stages)."""
        m = _CALLSITE_FILE.search(self.callsite)
        if not m:
            return "spark"
        parts = m.group(1).split("/")
        if "xapian_spark" in parts:
            parts = parts[parts.index("xapian_spark") + 1:]
        else:
            parts = parts[-1:]
        return ".".join(parts)[:-3]


def _event_log_file(log_dir: str) -> str:
    files = [
        os.path.join(log_dir, f) for f in os.listdir(log_dir)
        if not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise ValueError(f"expected one finished event log in {log_dir}, "
                         f"found {sorted(os.listdir(log_dir))}")
    return files[0]


def read_event_log(path: str) -> list[JobRecord]:
    """Per-job records from an uncompressed Spark JSON event log (a file,
    or a directory holding exactly one finished log)."""
    if os.path.isdir(path):
        path = _event_log_file(path)
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                rec = JobRecord(
                    job_id=ev["Job ID"],
                    submitted_ms=ev.get("Submission Time", 0),
                    group=props.get("spark.jobGroup.id"),
                    callsite=props.get("callSite.short", ""),
                )
                jobs[rec.job_id] = rec
                # a stage listed by several jobs runs in the first of them
                # only; later jobs skip it
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, rec.job_id)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                rec = jobs.get(stage_job.get(info["Stage ID"], -1))
                if rec is None:
                    continue
                rec.stages += 1
                rec.tasks += info.get("Number of Tasks", 0)
                for acc in info.get("Accumulables", []):
                    key = _METRICS.get(acc.get("Name"))
                    if key:
                        setattr(rec, key,
                                getattr(rec, key) + int(acc.get("Value", 0)))
    return sorted(jobs.values(), key=lambda r: r.job_id)


def jobs_in(span: Span, jobs: list[JobRecord]) -> list[JobRecord]:
    """The event-log records of the jobs `span` started: those in its job
    group, plus those submitted while it was open from threads that do not
    inherit the group (the build's range-pack thread pool)."""
    ids = set(span.jobs)
    lo, hi = span.start * 1000.0, span.end * 1000.0
    return [
        j for j in jobs
        if j.job_id in ids or (j.group is None and lo <= j.submitted_ms <= hi)
    ]


def sum_jobs(jobs: list[JobRecord]) -> dict:
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "cpu_ns": 0,
           "gc_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
           "output_bytes": 0}
    for j in jobs:
        for k in list(out)[1:]:
            out[k] += getattr(j, k)
    return out
