"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload build|serve --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout.  From `--seed` it generates a codelike
corpus and its queries, drives the workload through the engine's public
entry points for `--seconds` seconds, checks every answer against the
brute-force oracle (tests/oracle.py), prints a report with every metric,
its unit and sample count, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the
metrics are the end-to-end ones; with --trace 1 a traced run with a fixed
operation count prints the per-layer ones instead.

Everything it writes goes under `.perfbench_work/` in the checkout and is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("build", "serve")
DRIVER_MEMORY = "2g"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    """Point Spark, its Python workers and temp files at the checkout."""
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(work: str, trace: bool):
    from xapian_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session() -> None:
    """Stop Spark and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM for process {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this driver process plus the JVM."""
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024.0


def host_facts(spark, seed: int) -> dict:
    return {
        "nproc": _nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark": spark.version,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "seed": seed,
    }


def _line(name: str, value, unit: str, note: str = "") -> str:
    v = f"{value:.6g}" if isinstance(value, float) else str(value)
    return f"  {name:<30} {v:>14} {unit:<8} {note}"


def run_timed(args, work: str, t0: float) -> tuple[dict, list[str], object]:
    """A timed run (tracing off).  Returns (metrics, report lines, ctx)."""
    from perfbench import workloads as wl
    from perfbench.stats import floor_mean, median, reportable

    spark, session_s = start_session(work, trace=False)
    ctx = wl.make_ctx(spark, work, args.seed,
                      wl.N_DOCS[args.workload])
    oracle_s = wl.build_oracle(ctx)
    lines = []
    if args.workload == "build":
        wl.warm_up_build(ctx, full=False)
        setup_s = time.perf_counter() - t0 - oracle_s
        bd = wl.build_timed(ctx, args.seconds)
        rss = peak_rss_mb(spark)
        index_bytes = wl.dir_bytes(bd.last_path)
        wl.finish_builds(ctx, bd)
        n = ctx.corpus.n_docs
        ops, batches = bd.costs, bd.costs
        items = n * len(ops)
        op_name = "builds"
        items_note = f"= build_docs_per_s ({len(ops)} builds of {n} docs)"
        floors = {"build": [1000 * c.wall for c in ops]}
        floor_note = f"(fastest of {len(ops)} builds)"
    else:
        sv = wl.serve_setup(ctx, wl.Tracer())
        setup_s = time.perf_counter() - t0 - oracle_s
        ops = wl.serve_timed(ctx, sv, args.seconds)
        rss = peak_rss_mb(spark)
        index_bytes = wl.dir_bytes(sv.path)
        walls = [1000 * c.wall for c in ops]
        lines.append(_line("query_p50_ms", median(walls), "ms",
                           f"({len(ops)} queries)"))
        pct = reportable(walls)
        for p, v in pct.items():
            if p != "p50":
                lines.append(_line(f"query_{p}_ms", v, "ms",
                                   f"({len(ops)} queries)"))
        if "p90" not in pct:
            lines.append(f"  query_p90_ms: not reported, {len(ops)} "
                         "queries leave fewer than 10 beyond it")
        for shape, b in sv.batch_cost.items():
            nq = sv.batch_queries[shape]
            lines.append(_line(
                f"{shape}_qps", nq / sum(c.wall for c in b), "1/s",
                f"({len(b)} batches, {nq} queries)"))
        batches = [c for b in sv.batch_cost.values() for c in b]
        items = sum(sv.batch_queries.values())
        op_name = "queries"
        items_note = (f"= batch_qps ({items} queries in {len(batches)} "
                      "batches)")
        floors = {shape: [1000 * c.wall for c in cs]
                  for shape, cs in sv.query_cost.items()}
        floor_note = (f"(mean over {len(floors)} query shapes of each "
                      f"shape's fastest; {len(ops)} queries)")
    op_ms = [1000 * c.wall for c in ops]
    content = ctx.corpus.content_bytes()
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_floor_ms": (floor_mean(floors), "ms"),
        "items_per_s": (items / sum(c.wall for c in batches), "1/s"),
        "index_bytes_per_input_byte": (index_bytes / content, "B/B"),
    }
    # reported, but too noisy across seeds for a bound (see README.md)
    unbounded = {
        "op_p50_ms": (median(op_ms), "ms"),
        "op_mean_ms": (statistics.mean(op_ms), "ms"),
        "op_cpu_ms": (median(1000 * c.cpu for c in ops), "ms"),
        "peak_rss_mb": (rss, "MB"),
    }
    notes = {
        "setup_s": "(" + ", ".join(
            f"{k} {v:.2f} s"
            for k, v in {"session": session_s, **ctx.phases}.items()) + ")",
        "op_floor_ms": floor_note,
        "op_p50_ms": f"({len(ops)} {op_name})",
        "op_mean_ms": f"({len(ops)} {op_name})",
        "op_cpu_ms": "(median; driver Python, JVM and Python workers)",
        "items_per_s": items_note,
        "index_bytes_per_input_byte":
            f"({index_bytes} warehouse bytes, {content} content bytes)",
        "peak_rss_mb": "(driver Python + JVM)",
    }
    lines += [_line(k, v, u, notes[k])
              for k, (v, u) in {**metrics, **unbounded}.items()]
    lines.append(_line("oracle_build_s", oracle_s, "s",
                       "(kept out of setup_s)"))
    lines.insert(0, "host " + json.dumps(host_facts(spark, args.seed)))
    return metrics, lines, ctx


def run_traced(args, work: str) -> tuple[dict, list[str], object]:
    """A traced run with a fixed operation count: every per-layer metric."""
    from perfbench import layers
    from perfbench import workloads as wl
    from perfbench.stats import median
    from perfbench.trace import Py4jCounter, Tracer, read_event_log

    spark, session_s = start_session(work, trace=True)
    counter = Py4jCounter()
    counter.install(spark)
    tr = Tracer(spark, counter)
    ctx = wl.make_ctx(spark, work, args.seed,
                      wl.N_DOCS[args.workload])
    wl.build_oracle(ctx)
    out = {"session.start_s": session_s}
    if args.workload == "build":
        # a full warm-up, so the untraced and traced builds compare alike
        wl.warm_up_build(ctx, full=True)
        # untraced, traced, untraced: the bracket cancels warm-up drift
        bd = wl.build_timed(ctx, 0, builds=1)
        bd = wl.build_timed(ctx, 0, builds=1, tr=tr, bd=bd)
        bd = wl.build_timed(ctx, 0, builds=1, bd=bd)
        before, traced, after = (c.wall for c in bd.costs)
        untraced = (before + after) / 2
        wl.finish_builds(ctx, bd)
        sv = wl.open_serving(ctx, tr, bd.last_path, bd.last_idx)
        wl.serve_timed(ctx, sv, 0, rounds=wl.TRACED_ROUNDS, tr=tr)
    else:
        sv = wl.serve_setup(ctx, tr)
        # untraced, traced, untraced rounds: the bracket cancels warm-up
        # drift
        before = wl.serve_timed(ctx, sv, 0, rounds=1)
        traced = median(c.wall for c in wl.serve_timed(
            ctx, sv, 0, rounds=wl.TRACED_ROUNDS, tr=tr))
        after = wl.serve_timed(ctx, sv, 0, rounds=1)
        untraced = median(c.wall for c in before + after)
    out["trace.untraced_op_ms"] = 1000 * untraced
    out["trace.traced_op_ms"] = 1000 * traced
    out.update(layers.probe_blocks_and_invert(ctx, tr, sv.path))
    out.update(layers.probe_wand(ctx, tr, sv))
    counter.uninstall()
    facts = host_facts(spark, args.seed)
    stop_session()  # flushes and closes the event log
    jobs = read_event_log(os.path.join(work, "events"))
    out.update(layers.span_metrics(tr, jobs))
    missing = set(layers.PER_LAYER) - set(out)
    if missing:
        raise ValueError(f"per-layer metrics not measured: {sorted(missing)}")
    lines = ["host " + json.dumps(facts)] + [
        _line(k, out[k], layers.PER_LAYER[k]) for k in layers.PER_LAYER
    ]
    lines.append(f"  tracing overhead: {traced / untraced - 1:+.1%} on the "
                 "op time (traced vs untraced, same run)")
    by_module = Counter(j.module for j in jobs)
    lines.append("  Spark jobs by engine module (event-log call sites): "
                 + json.dumps(dict(by_module.most_common())))
    metrics = {k: (out[k], layers.PER_LAYER[k]) for k in layers.PER_LAYER}
    return metrics, lines, ctx


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # fail before any work where the engine or its oracle is absent
    import tests.oracle  # noqa: F401
    import xapian_spark.index.merge  # noqa: F401

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    try:
        if args.trace:
            metrics, lines, ctx = run_traced(args, work)
        else:
            metrics, lines, ctx = run_timed(args, work, time.perf_counter())
    finally:
        stop_session()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # when no other run is using it
        except OSError:
            pass
    frac = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"trace={args.trace} docs={ctx.corpus.n_docs}")
    for line in lines:
        print(line)
    print(_line("ops_failed_frac", frac, "",
                f"({ctx.failed} of {ctx.attempted} operations)"))
    for p in ctx.problems[:20]:
        print("  FAILED", p)
    print(json.dumps({
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed if ctx.attempted else 1,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
