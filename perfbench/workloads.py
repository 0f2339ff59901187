"""The benchmark's workloads, driven through the engine's public entry
points by one client issuing one operation at a time (a closed loop).

- ``build``: `merge.build_warehouse` on the generated corpus, then
  `merge.read_warehouse`; one build at a time, each into a fresh
  directory.
- ``serve``: over one warehouse built at set-up, rounds of interactive
  queries (`QueryParser.parse_query`, then `Planner(idx).search(...)
  .collect()` on a handle that is not persisted, so every query reads the
  warehouse files) and batches (`Planner.search_batch_or` with its
  default arguments on a persisted handle), batch shapes alternating
  between selective and hot.

Every answer is checked against the brute-force oracle outside the timed
region.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench import corpus as gen
from perfbench.check import Oracle
from perfbench.trace import Tracer

# corpus size per workload, kept small so a run fits its time budget: the
# serve workload pays a cold build in every set-up
N_DOCS = {"build": 4000, "serve": 3000}
K = 10
BATCH_SIZE = 100
WARM_UP_BATCH = 10
WARM_UP_DOCS = 1000
# interactive shapes of one serve round: the WAND-served free-text query
# (about 2 s) once, the others (0.2-0.4 s) twice, so the cheap shapes get
# more samples for the time a round takes
ROUND_SHAPES = gen.SHAPES + gen.SHAPES[1:]
# batches of one serve round: one of each shape, alternating
BATCHES_PER_ROUND = len(gen.BATCH_SHAPES)
# a timed serve run holds at least this many rounds, so each query shape
# has two chances at its floor even when a burst of load from other
# tenants of the host slows a whole round
MIN_ROUNDS = 2
# fixed operation count of a traced run, so its counts repeat exactly
TRACED_ROUNDS = 1


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    -- the JVM and its Python workers -- including their reaped children.
    CPU time does not count time the host steals, so it stays steady on a
    shared host where wall time does not."""
    root = os.getpid()
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        total += t if p == root else 0
    return total / os.sysconf("SC_CLK_TCK")


def more_time(t0: float, seconds: float, done: int) -> bool:
    """Whether a loop timed from `t0` that has done `done` whole
    operations starts another: it stops at the operation count whose
    total time comes nearest to `seconds`, and does at least one."""
    if not done:
        return True
    elapsed = time.perf_counter() - t0
    return elapsed + elapsed / done / 2 < seconds


@dataclass
class Cost:
    """Wall and process-tree CPU seconds of one operation."""

    wall: float
    cpu: float


class measure:
    """`with measure() as m: ...` leaves the block's Cost in `m.cost`."""

    def __enter__(self) -> "measure":
        self._cpu = tree_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.cost = Cost(time.perf_counter() - self._t0,
                         tree_cpu_s() - self._cpu)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


@dataclass
class Ctx:
    """State of one benchmark run."""

    spark: object
    work: str
    corpus: gen.Corpus
    corpus_path: str
    oracle: Oracle | None = None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    phases: dict[str, float] = field(default_factory=dict)  # set-up seconds
    queries: dict[str, list] = field(default_factory=dict)
    batches: list = field(default_factory=list)
    _next_build: int = 0
    _next_q: dict[str, int] = field(default_factory=dict)
    _next_b: int = 0

    def record(self, what: str, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.problems.append(f"{what}: {'; '.join(errs[:3])}")

    def fresh_dir(self) -> str:
        self._next_build += 1
        return os.path.join(self.work, f"wh{self._next_build}")

    def next_query(self, shape: str):
        i = self._next_q.get(shape, 0)
        self._next_q[shape] = i + 1
        qs = self.queries[shape]
        return qs[i % len(qs)]

    def next_batch(self):
        b = self.batches[self._next_b % len(self.batches)]
        self._next_b += 1
        return b


def make_ctx(spark, work: str, seed: int, n_docs: int) -> Ctx:
    t0 = time.perf_counter()
    c = gen.generate(seed, n_docs)
    path = os.path.join(work, "corpus.parquet")
    c.write_parquet(path)
    ctx = Ctx(spark=spark, work=work, corpus=c, corpus_path=path)
    for q in gen.interactive_queries(c, seed, 200):
        ctx.queries.setdefault(q.shape, []).append(q)
    ctx.batches = gen.batches(c, seed, 40, BATCH_SIZE)
    ctx.phases["corpus"] = time.perf_counter() - t0
    return ctx


def build_oracle(ctx: Ctx) -> float:
    t0 = time.perf_counter()
    ctx.oracle = Oracle(
        ctx.corpus.texts(), {r["docid"]: r["lang"] for r in ctx.corpus.rows}
    )
    return time.perf_counter() - t0


def corpus_df(ctx: Ctx):
    return ctx.spark.read.parquet(ctx.corpus_path)


# -- operations -------------------------------------------------------------

def build_op(ctx: Ctx, tr: Tracer, path: str, docs=None):
    """One warehouse build + open of `docs` (default: the corpus).
    Returns (Cost, index)."""
    from xapian_spark.index import merge

    docs = corpus_df(ctx) if docs is None else docs
    with measure() as m, tr.span("build"):
        with tr.span("index.merge.build"):
            merge.build_warehouse(ctx.spark, docs, path,
                                  prefix_fields={"lang": "L"})
        with tr.span("index.merge.open"):
            idx = merge.read_warehouse(ctx.spark, path)
    return m.cost, idx


def warm_up_build(ctx: Ctx, full: bool) -> None:
    """Pay JVM and Python-worker warm-up with one build of the corpus (or
    of its first WARM_UP_DOCS documents), then delete it."""
    from pyspark.sql import functions as F

    path = ctx.fresh_dir()
    docs = corpus_df(ctx)
    if not full:
        docs = docs.where(F.col("docid") <= WARM_UP_DOCS)
    ctx.phases["warm_up_build"] = build_op(ctx, Tracer(), path, docs)[0].wall
    shutil.rmtree(path, ignore_errors=True)


def check_build(ctx: Ctx, path: str, idx, invariants: bool) -> None:
    from xapian_spark.index import merge

    errs = []
    if idx.stats.doccount != ctx.oracle.n_docs:
        errs.append(f"doccount {idx.stats.doccount} != {ctx.oracle.n_docs}")
    n_terms = idx.term_stats.count()
    if n_terms != ctx.oracle.n_terms():
        errs.append(f"{n_terms} terms, oracle has {ctx.oracle.n_terms()}")
    if invariants:
        inv = merge.verify_invariants(ctx.spark, path, corpus_df(ctx))
        errs += [f"{k}={v}" for k, v in inv.items() if v]
    ctx.record(f"build {path}", errs)


def query_op(ctx: Ctx, tr: Tracer, parser, idx, q):
    """One interactive query.  Returns (Cost, rows)."""
    from xapian_spark.query.planner import Planner

    with measure() as m, tr.span("interactive", op=tr.new_op(),
                                 shape=q.shape):
        with tr.span("query.parser.parse"):
            node = parser.parse_query(q.text)
        with tr.span("query.planner.plan"):
            df = Planner(idx).search(node, k=K)
        with tr.span("spark.optimize"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("spark.execute"):
            rows = df.collect()
    return m.cost, [(r["rank"], r["docid"], r["score"]) for r in rows]


def batch_op(ctx: Ctx, tr: Tracer, planner, shape: str, qs: dict,
             use_wand: bool | None = None, name: str = "batch"):
    """One batch through search_batch_or (default arguments unless
    use_wand is given).  Returns (Cost, rows)."""
    kw = {} if use_wand is None else {"use_wand": use_wand}
    with measure() as m, tr.span(name, op=tr.new_op(), shape=shape):
        with tr.span("batch.plan", shape=shape):
            df = planner.search_batch_or(qs, k=K, **kw)
        with tr.span("batch.execute", shape=shape):
            rows = df.collect()
    return m.cost, [
        (r["query"], r["rank"], r["docid"], r["score"]) for r in rows
    ]


# -- serve ------------------------------------------------------------------

@dataclass
class Serving:
    """What the serve workload queries, and its batch samples."""

    path: str
    idx_files: object  # read_warehouse, not persisted: interactive
    parser: object
    planner: object  # over a persisted handle: batches
    query_cost: dict[str, list[Cost]] = field(default_factory=dict)
    batch_cost: dict[str, list[Cost]] = field(default_factory=dict)
    batch_queries: dict[str, int] = field(default_factory=dict)
    or_queries: list = field(default_factory=list)
    first_batches: dict[str, dict] = field(default_factory=dict)


def open_serving(ctx: Ctx, tr: Tracer, path: str, idx) -> Serving:
    """Serve the warehouse at `path`: interactive queries on `idx`, its
    file-backed handle, and batches on a second, persisted handle."""
    from xapian_spark.index import merge
    from xapian_spark.index.builder import persist_index
    from xapian_spark.query.parser import QueryParser
    from xapian_spark.query.planner import Planner

    with tr.span("persist"):
        cached = persist_index(merge.read_warehouse(ctx.spark, path))
        cached.postings.count()
        cached.doclens.count()
        cached.term_stats.count()
    parser = QueryParser()
    parser.add_boolean_prefix("lang", "L")
    return Serving(path=path, idx_files=idx, parser=parser,
                   planner=Planner(cached))


def serve_round(ctx: Ctx, tr: Tracer, sv: Serving, record: bool,
                shapes=ROUND_SHAPES, batch_size: int = BATCH_SIZE
                ) -> list[Cost]:
    """The interactive queries of `shapes`, then BATCHES_PER_ROUND
    batches of at most `batch_size` queries.  Only a round with record=True
    keeps samples and checks answers.  Returns the round's interactive
    query costs."""
    costs = []
    for shape in shapes:
        q = ctx.next_query(shape)
        try:
            cost, rows = query_op(ctx, tr, sv.parser, sv.idx_files, q)
        except Exception as e:  # an operation that raises counts as failed
            ctx.record(f"query {q.text!r}", [repr(e)])
            continue
        costs.append(cost)
        if record:
            sv.query_cost.setdefault(shape, []).append(cost)
            if shape == "or":
                sv.or_queries.append(q)
            ctx.record(f"query {q.text!r}",
                       ctx.oracle.check_query(q, rows, K))
    for _ in range(BATCHES_PER_ROUND):
        shape, qs = ctx.next_batch()
        qs = dict(list(qs.items())[:batch_size])
        try:
            cost, rows = batch_op(ctx, tr, sv.planner, shape, qs)
        except Exception as e:
            ctx.record(f"{shape} batch", [repr(e)])
            continue
        if record:
            sv.batch_cost.setdefault(shape, []).append(cost)
            sv.batch_queries[shape] = sv.batch_queries.get(shape, 0) + len(qs)
            sv.first_batches.setdefault(shape, qs)
            ctx.record(f"{shape} batch",
                       ctx.oracle.check_batch(qs, rows, K))
    return costs


def serve_setup(ctx: Ctx, tr: Tracer) -> Serving:
    path = ctx.fresh_dir()
    cost, idx = build_op(ctx, tr, path)
    ctx.phases["build"] = cost.wall
    t0 = time.perf_counter()
    sv = open_serving(ctx, tr, path, idx)
    ctx.phases["persist"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    # warm-up, untimed: each shape once with small batches, which pays the
    # first-query costs, then a whole round, after which query latency
    # has settled
    serve_round(ctx, Tracer(), sv, False, gen.SHAPES, WARM_UP_BATCH)
    serve_round(ctx, Tracer(), sv, False)
    ctx.phases["warm_up_round"] = time.perf_counter() - t0
    return sv


def serve_timed(ctx: Ctx, sv: Serving, seconds: float,
                rounds: int | None = None,
                tr: Tracer | None = None) -> list[Cost]:
    """Serve whole rounds for about `seconds`, at least MIN_ROUNDS of
    them (or exactly `rounds`).
    Returns the interactive query costs."""
    tr = tr or Tracer()
    t0 = time.perf_counter()
    costs: list[Cost] = []
    done = 0
    while (done < rounds) if rounds is not None else (
        done < MIN_ROUNDS or more_time(t0, seconds, done)
    ):
        costs += serve_round(ctx, tr, sv, record=True)
        done += 1
    return costs


# -- build ------------------------------------------------------------------

@dataclass
class Building:
    costs: list[Cost] = field(default_factory=list)
    last_path: str | None = None
    last_idx: object = None


def build_timed(ctx: Ctx, seconds: float, builds: int | None = None,
                tr: Tracer | None = None, bd: Building | None = None
                ) -> Building:
    """Build for about `seconds` (or exactly `builds` builds); each build
    but the last is checked and deleted once timed."""
    tr = tr or Tracer()
    bd = bd or Building()
    t0 = time.perf_counter()
    done = 0
    while (done < builds) if builds is not None else (
        more_time(t0, seconds, done)
    ):
        path = ctx.fresh_dir()
        try:
            cost, idx = build_op(ctx, tr, path)
        except Exception as e:
            ctx.record(f"build {path}", [repr(e)])
            done += 1
            continue
        bd.costs.append(cost)
        if bd.last_path is not None:
            check_build(ctx, bd.last_path, bd.last_idx, invariants=False)
            shutil.rmtree(bd.last_path, ignore_errors=True)
        bd.last_path, bd.last_idx = path, idx
        done += 1
    return bd


def finish_builds(ctx: Ctx, bd: Building) -> None:
    """Check the last build, invariants included."""
    if bd.last_path is not None:
        check_build(ctx, bd.last_path, bd.last_idx, invariants=True)
