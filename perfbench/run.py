#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run starts one Spark session on
``local[<nproc>]``, sets up (inputs, staging, warm-up), measures, checks
every output, and prints two JSON lines on stdout: a detail record (host
context, per-operation latencies, problems), then the result
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` turns on spans and
the Spark event log and reports the per-layer metrics instead.  The exit
code is 1 when any check fails and 2 when the program cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "spatial_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def start_spark(workdir: str, trace: bool):
    from pyspark.sql import SparkSession

    cpus = os.cpu_count() or 1
    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # keep Spark's and Python's scratch files inside the run's work dir
    os.environ["SPARK_LOCAL_DIRS"] = f"{workdir}/spark-local"
    os.environ["TMPDIR"] = f"{workdir}/tmp"
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", f"{workdir}/warehouse")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={workdir}/tmp")
    )
    if trace:
        os.makedirs(f"{workdir}/eventlog")
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{workdir}/eventlog")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait until every process the run
    started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    from perfbench.host import descendants

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def install_spans(tracer) -> None:
    """Span the public functions of every layer the workloads reach."""
    from geospatial_spark import pipeline
    from geospatial_spark.icelite import catalog as ice
    from geospatial_spark.operators import overlay, pip_join, tiling
    from geospatial_spark.plans import planner
    from geospatial_spark.sources import pages
    from geospatial_spark.streaming import sink

    from perfbench import metrics

    tracer.wrap(pages, "sources", ["pages", "extract_points"])
    tracer.wrap(pip_join, "operators", ["pip_join"])
    tracer.wrap(overlay, "operators", ["overlay_join"])
    tracer.wrap(tiling, "operators", ["tile_cell_assignments"])
    tracer.wrap(planner, "plans", ["choose_pip_plan"])
    tracer.wrap(
        ice, "icelite",
        ["write_partitioned", "append_batch", "rewrite_files", "expire_snapshots",
         "verify_table", "read_range", "read_table"],
        on_call=metrics.icelite_call,
    )
    tracer.wrap(sink, "streaming", ["stream_to_icelite"])
    tracer.wrap(pipeline, "pipeline", ["run", "compact_tables"])


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import geospatial_spark.pipeline  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(f"{workdir}/tmp")
    try:
        detail, result = measure(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def measure(args, workdir: str) -> tuple[dict, dict]:
    """One run in its own work dir: (detail record, result line)."""
    from perfbench import host, metrics
    from perfbench.trace import NullTracer, Trace, Tracer, read_event_log
    from perfbench.workloads import WORKLOADS, Run, probe_sources

    host_before = host.snapshot()
    rss = host.RssSampler().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(workdir, bool(args.trace))
        tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
        if args.trace:
            install_spans(tracer)
        run = Run(spark, tracer, args.seed, args.seconds, workdir)
        wl = WORKLOADS[args.workload](run)
        with tracer.span("bench.setup"):
            wl.setup()
        setup_s = time.perf_counter() - t0
        with tracer.span("bench.measure") as measure_span:
            wl.measure()
        stored = sum(metrics.data_files(wl.root).values())
        rows = wl.committed_rows()
        if args.trace:
            probe_sources(run, wl.fixture)
            tracer.unwrap()
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
    host_ctx = host.context(host_before, host.snapshot())

    if args.trace:
        jobs, nodes = read_event_log(f"{workdir}/eventlog")
        trace = Trace(tracer.spans, jobs, nodes)
        out = metrics.per_layer(trace, run, measure_span, wl, rss.peak_mb)
        missing = metrics.honesty_failures(trace, args.workload)
        run.problems += missing
        run.failed += len(missing)
    else:
        out = metrics.end_to_end(run, setup_s, stored, rows)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host_ctx,
        "setup_s": setup_s,
        "job_s": run.job_times,
        "op_s": run.op_times,
        "query_s": {k: statistics.median(v) for k, v in run.detail.get("query_s", {}).items()},
        "warmup_s": run.detail.get("warmup_s"),
        "stream_s": run.detail.get("stream_s"),
        "problems": run.problems,
    }
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }
    return detail, result


if __name__ == "__main__":
    sys.exit(main())
