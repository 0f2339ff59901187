"""Per-layer probes and metrics of a traced run.

Layer names follow the engine's modules.  Probes time one call into a
layer's public function, forced by a count or a collect; the other
metrics come from the spans the workloads record and from the Spark
event log.
"""

from __future__ import annotations

import os
import time

from perfbench import corpus as gen
from perfbench.stats import median
from perfbench.trace import Tracer, jobs_in, sum_jobs
from perfbench.workloads import K, Ctx, Serving, batch_op, corpus_df, dir_bytes


def probe_blocks_and_invert(ctx: Ctx, tr: Tracer, path: str) -> dict:
    """invert_arrow over the corpus, pack_blocks over the warehouse
    postings and unpack_blocks over its blocked table, each forced by a
    count."""
    from pyspark.sql import functions as F

    from xapian_spark.index.blocks import pack_blocks, unpack_blocks
    from xapian_spark.index.builder import invert_arrow

    spark = ctx.spark
    out = {}
    docs = corpus_df(ctx).select(F.col("docid").cast("long"), "content")
    with tr.span("index.builder.invert") as s:
        invert_arrow(docs, "content", keep_cols=["docid"]).count()
    out["index.builder.invert_s"] = s.seconds
    runs = spark.read.parquet(os.path.join(path, "runs")).select(
        "term", "docid", "wdf", "doclen")
    with tr.span("index.blocks.pack") as s:
        n_blocks = pack_blocks(runs).count()
    out["index.blocks.pack_s"] = s.seconds
    blocked = spark.read.parquet(os.path.join(path, "blocked"))
    with tr.span("index.blocks.decode") as s:
        n_postings = unpack_blocks(blocked).count()
    out["index.blocks.decode_s"] = s.seconds
    if n_blocks == 0 or n_postings == 0:
        raise ValueError("probe warehouse has no postings")
    out["index.blocks.bytes_per_posting"] = (
        dir_bytes(os.path.join(path, "blocked")) / n_postings
    )
    return out


def probe_wand(ctx: Ctx, tr: Tracer, sv: Serving) -> dict:
    """wand_topk vs brute_topk on the traced free-text queries, and the
    first batch of each shape forced down the WAND and the row path."""
    from pyspark.sql import functions as F

    from xapian_spark.query.wand import brute_topk, wand_topk
    from xapian_spark.ranking.weights import BM25Weight

    idx = sv.idx_files
    times: dict[str, list[float]] = {"wand": [], "brute": []}
    for q in sv.or_queries:
        terms = sorted(set(q.terms))
        tstats = idx.collect_term_stats(terms)
        for name, fn in (("wand", wand_topk), ("brute", brute_topk)):
            t0 = time.perf_counter()
            with tr.span(f"query.wand.{name}", op=tr.new_op()):
                rows = (
                    fn(idx.blocked, idx.stats, tstats, terms, K, BM25Weight(),
                       doclens=idx.doclens)
                    .orderBy(F.desc("score"), F.asc("docid")).limit(K)
                    .collect()
                )
            times[name].append(time.perf_counter() - t0)
            got = [(i + 1, r["docid"], r["score"]) for i, r in enumerate(rows)]
            ctx.record(f"{name}_topk {q.text!r}",
                       ctx.oracle.check_query(q, got, K))
    out = {
        "query.wand.wand_ms": 1000 * median(times["wand"]),
        "query.wand.brute_ms": 1000 * median(times["brute"]),
    }
    for shape in gen.BATCH_SHAPES:
        qs = sv.first_batches[shape]
        for use_wand, key in ((True, "query.wand.batch_s"),
                              (False, "query.planner.batch_row_s")):
            cost, rows = batch_op(ctx, tr, sv.planner, shape, qs,
                                  use_wand=use_wand, name=key)
            out[f"{key}.{shape}"] = cost.wall
            ctx.record(f"{key} {shape}", ctx.oracle.check_batch(qs, rows, K))
    return out


def span_metrics(tr: Tracer, jobs: list) -> dict:
    """Metrics read from the recorded spans and event-log jobs."""
    out = {}
    build = tr.named("index.merge.build")[-1]
    b = sum_jobs(jobs_in(build, jobs))
    out["index.merge.build_s"] = build.seconds
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                "spill_bytes", "output_bytes"):
        out[f"index.merge.{key}"] = b[key]
    out["index.merge.cpu_s"] = b["cpu_ns"] / 1e9
    out["index.merge.gc_s"] = b["gc_ms"] / 1e3
    out["index.merge.open_s"] = tr.named("index.merge.open")[-1].seconds

    queries = tr.named("interactive")
    if not queries:
        raise ValueError("traced run recorded no interactive queries")

    def child(q, name):
        return next(s for s in tr.children(q) if s.name == name)

    plans = [child(q, "query.planner.plan") for q in queries]
    out["query.parser.parse_ms"] = median(
        1000 * child(q, "query.parser.parse").seconds for q in queries)
    out["query.planner.plan_ms"] = median(1000 * p.seconds for p in plans)
    out["query.planner.py4j_calls"] = median(p.py4j for p in plans)
    out["query.planner.plan_jobs"] = median(len(p.jobs) for p in plans)
    out["spark.optimize_ms"] = median(
        1000 * child(q, "spark.optimize").seconds for q in queries)
    out["spark.execute_ms"] = median(
        1000 * child(q, "spark.execute").seconds for q in queries)
    per_q = [tr.children(q) for q in queries]
    out["spark.jobs_per_query"] = median(
        sum(len(s.jobs) for s in c) for c in per_q)
    out["spark.stages_per_query"] = median(
        sum(s.stages for s in c) for c in per_q)
    out["spark.tasks_per_query"] = median(
        sum(s.tasks for s in c) for c in per_q)
    for shape in gen.SHAPES:
        out[f"interactive.{shape}.p50_ms"] = median(
            1000 * q.seconds for q in queries if q.attrs["shape"] == shape)

    for shape in gen.BATCH_SHAPES:
        bs = [s for s in tr.named("batch") if s.attrs["shape"] == shape]
        out[f"batch.plan_ms.{shape}"] = median(
            1000 * child(s, "batch.plan").seconds for s in bs)
        sums = [sum_jobs(
            jobs_in(child(s, "batch.plan"), jobs)
            + jobs_in(child(s, "batch.execute"), jobs)) for s in bs]
        out[f"batch.shuffle_bytes.{shape}"] = median(
            x["shuffle_write_bytes"] for x in sums)
        out[f"batch.cpu_s.{shape}"] = median(x["cpu_ns"] / 1e9 for x in sums)
        out[f"batch.gc_s.{shape}"] = median(x["gc_ms"] / 1e3 for x in sums)
    return out


# name -> unit of every per-layer metric, in report order
PER_LAYER = {
    "session.start_s": "s",
    "index.builder.invert_s": "s",
    "index.merge.build_s": "s",
    "index.merge.jobs": "count",
    "index.merge.stages": "count",
    "index.merge.tasks": "count",
    "index.merge.shuffle_write_bytes": "bytes",
    "index.merge.spill_bytes": "bytes",
    "index.merge.cpu_s": "s",
    "index.merge.gc_s": "s",
    "index.merge.output_bytes": "bytes",
    "index.merge.open_s": "s",
    "index.blocks.pack_s": "s",
    "index.blocks.decode_s": "s",
    "index.blocks.bytes_per_posting": "bytes",
    "query.parser.parse_ms": "ms",
    "query.planner.plan_ms": "ms",
    "query.planner.py4j_calls": "count",
    "query.planner.plan_jobs": "count",
    "spark.optimize_ms": "ms",
    "spark.execute_ms": "ms",
    "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    **{f"interactive.{s}.p50_ms": "ms" for s in gen.SHAPES},
    "query.wand.wand_ms": "ms",
    "query.wand.brute_ms": "ms",
    **{f"query.wand.batch_s.{s}": "s" for s in gen.BATCH_SHAPES},
    **{f"query.planner.batch_row_s.{s}": "s" for s in gen.BATCH_SHAPES},
    **{f"batch.plan_ms.{s}": "ms" for s in gen.BATCH_SHAPES},
    **{f"batch.shuffle_bytes.{s}": "bytes" for s in gen.BATCH_SHAPES},
    **{f"batch.cpu_s.{s}": "s" for s in gen.BATCH_SHAPES},
    **{f"batch.gc_s.{s}": "s" for s in gen.BATCH_SHAPES},
    "trace.untraced_op_ms": "ms",
    "trace.traced_op_ms": "ms",
}
