"""End-to-end and per-layer metrics of one run.

Every metric is reported on both workloads; a layer a workload does not
reach reads 0 (the prediction for that pairing is "no change").  Per-layer
seconds are totals over the measured phase.
"""

from __future__ import annotations

import glob
import os
import statistics

from geospatial_spark.icelite import catalog as ice

from .trace import PYTHON_NODES, Span, Trace
from .workloads import PIPELINE_TABLES, QUERIES

WRITERS = ("write_partitioned", "append_batch", "rewrite_files")
ICELITE_FNS = ("write_partitioned", "append_batch", "rewrite_files", "expire_snapshots", "verify_table")
SPARK_COUNTERS = (
    ("shuffle_bytes", "B"), ("shuffle_records", "count"), ("fetch_wait_s", "s"),
    ("executor_cpu_s", "s"), ("gc_s", "s"), ("spill_bytes", "B"), ("jobs", "count"),
    ("tasks", "count"), ("input_records", "count"),
)


def data_files(root: str, table: str = "*") -> dict[str, int]:
    """Size of every icelite data file of the table(s) under root."""
    return {
        p: os.path.getsize(p)
        for p in glob.glob(f"{root}/{table}/data/__batch=*/__pid=*/*.parquet")
    }


def icelite_call(name: str, args: tuple, kwargs: dict):
    """Span attributes for an icelite call: the table, and for writers the
    parquet files the call added."""
    pos = 0 if name == "expire_snapshots" else 1
    root = kwargs.get("root", args[pos] if len(args) > pos else None)
    table = kwargs.get("table", args[pos + 1] if len(args) > pos + 1 else None)
    if name in WRITERS:
        before = data_files(root, table)

        def finish(sp: Span, _out) -> None:
            new = {p: n for p, n in data_files(root, table).items() if p not in before}
            sp.attrs.update(table=table, files_written=len(new), bytes_written=sum(new.values()))

        return finish
    if name == "read_range":
        man = ice.current_manifest(root, table)
        lo = kwargs.get("lo", args[3] if len(args) > 3 else None)
        hi = kwargs.get("hi", args[4] if len(args) > 4 else None)

        def finish(sp: Span, _out) -> None:
            sp.attrs.update(
                table=table,
                partitions_read=len(ice.partitions_for_range(man, lo, hi)),
                partitions=len(man["partitions"]),
            )

        return finish

    def finish(sp: Span, _out) -> None:
        sp.attrs["table"] = table

    return finish


def quantile_exclusive(values: list[float], q: int) -> float:
    """The q-th percentile ((n+1)-based), or the largest value when there
    are too few samples to place it."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="exclusive")[q - 1]


def end_to_end(run, setup_s: float, stored_bytes: int, rows: int) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "job_s": (statistics.median(run.job_times), "s"),
        "op_p50_s": (statistics.median(run.op_times), "s"),
        "op_p90_s": (quantile_exclusive(run.op_times, 90), "s"),
        "stored_bytes_per_row": (stored_bytes / rows, "B/row"),
    }


def per_layer(trace: Trace, run, measure: Span, wl, peak_mb: float) -> dict:
    under = [trace.spans[i] for i in trace.subtree(measure.id)]
    named = lambda n: [s for s in under if s.name == n]  # noqa: E731
    wall = lambda spans: sum(s.wall_s for s in spans)  # noqa: E731
    c_all = trace.counters(trace.jobs_under([measure]))
    out: dict = {
        "trace.job_s": (statistics.median(run.job_times), "s"),
        "trace.spans": (len(trace.spans), "count"),
        # the process tree's peak RSS repeats only to about an eighth run
        # to run, too loose for an end-to-end bound
        "host.peak_rss_mb": (peak_mb, "MB"),
    }

    probe = trace.named("probe.extract_points")
    out["sources.extract_points_s"] = (wall(probe), "s")
    out["sources.scan_rows"] = (trace.counters(trace.jobs_under(probe)).get("input_records", 0), "count")

    out["functions.udf_bytes_sent"] = (c_all.get("udf_bytes_sent", 0), "B")
    out["functions.udf_bytes_received"] = (c_all.get("udf_bytes_received", 0), "B")
    out["functions.udf_boot_s"] = (c_all.get("udf_boot_ms", 0) / 1e3, "s")
    out["functions.udf_init_s"] = (c_all.get("udf_init_ms", 0) / 1e3, "s")
    out["geo.python_run_s"] = (c_all.get("python_run_ms", 0) / 1e3, "s")

    for q in QUERIES:
        out[f"operators.{q}.s"] = (wall(named(f"bench.query.{q}")), "s")

    plans = named("plans.choose_pip_plan")
    out["plans.choose_pip_plan_s"] = (wall(plans), "s")
    out["plans.jobs"] = (len(trace.jobs_under(plans)), "count")

    ice_spans = [s for s in under if s.name.startswith("icelite.")]
    for fn in ICELITE_FNS:
        spans = named(f"icelite.{fn}")
        out[f"icelite.{fn}_s"] = (wall(spans), "s")
        out[f"icelite.{fn}.jobs"] = (len(trace.jobs_under(spans)), "count")
    lookups = named("bench.lookup")
    out["icelite.read_range_s"] = (wall(lookups), "s")
    out["icelite.read_range.jobs"] = (len(trace.jobs_under(lookups)), "count")

    top = [s for s in ice_spans if not _has_ancestor(trace, s, ice_spans)]
    out["icelite.driver_s"] = (
        sum(s.wall_s - min(s.wall_s, trace.job_union_s(trace.jobs_under([s]))) for s in top),
        "s",
    )
    writers = [s for s in ice_spans if s.name in (f"icelite.{w}" for w in WRITERS)]
    out["icelite.files_written"] = (sum(s.attrs.get("files_written", 0) for s in writers), "count")
    out["icelite.bytes_written"] = (sum(s.attrs.get("bytes_written", 0) for s in writers), "B")
    out["icelite.files_per_partition"] = (_files_per_partition(wl.root), "ratio")
    appends = [s for s in writers if s.name != "icelite.rewrite_files"]
    cw = trace.counters(trace.jobs_under(appends))
    out["icelite.source_rows_per_committed_row"] = (
        cw.get("input_records", 0) / cw["output_records"] if cw.get("output_records") else 0.0,
        "ratio",
    )
    reads = named("icelite.read_range")
    out["icelite.partitions_read_share"] = (
        statistics.mean(s.attrs["partitions_read"] / s.attrs["partitions"] for s in reads)
        if reads else 0.0,
        "ratio",
    )
    returned = run.detail.get("lookup_rows", 0)
    scanned = trace.counters(trace.jobs_under(lookups)).get("input_records", 0)
    out["icelite.rows_scanned_per_returned"] = (scanned / returned if returned else 0.0, "ratio")

    stream = named("bench.stream")
    out["streaming.add_batch_s"] = (run.detail.get("add_batch_s", 0.0), "s")
    out["streaming.trigger_overhead_s"] = (run.detail.get("trigger_overhead_s", 0.0), "s")
    out["streaming.compactions"] = (
        sum(1 for s in ice_spans if s.name == "icelite.rewrite_files" and _has_ancestor(trace, s, stream)),
        "count",
    )

    runs = named("pipeline.run")
    for t in PIPELINE_TABLES:
        out[f"pipeline.stage_s.{t}"] = (
            wall(
                s for s in named("icelite.write_partitioned")
                if s.attrs.get("table") == t and _has_ancestor(trace, s, runs)
            ),
            "s",
        )
    out["pipeline.compact_s"] = (wall(named("pipeline.compact_tables")), "s")

    for k, unit in SPARK_COUNTERS:
        out[f"spark.{k}"] = (c_all.get(k, 0), unit)
    return out


def _has_ancestor(trace: Trace, s: Span, ancestors: list[Span]) -> bool:
    ids = {a.id for a in ancestors}
    p = s.parent
    while p is not None:
        if p in ids:
            return True
        p = trace.spans[p].parent
    return False


def _files_per_partition(root: str) -> float:
    """Data files of the current snapshots per non-empty committed
    partition, over every table under root."""
    files = parts = 0
    for meta in glob.glob(f"{root}/*/metadata"):
        table = os.path.basename(os.path.dirname(meta))
        man = ice.current_manifest(root, table)
        for rec in man["partitions"] if man else []:
            if rec["row_count"] > 0:
                parts += 1
                files += len(glob.glob(
                    f"{root}/{table}/data/__batch={rec['batch']}/__pid={rec['pid']}/*.parquet"
                ))
    return files / parts if parts else 0.0


# Timing honesty: (span, table or None, Python UDF its SQL executions must
# run in a Python plan node).  A bare count() keeps the overlay's bbox UDFs
# but prunes its kernel, so the check names the UDF, not just the node.
HONESTY = {
    "ingest": [
        ("icelite.write_partitioned", "points", "_enc"),
        ("icelite.write_partitioned", "tiles", "_enc"),
    ],
    "spatial_queries": [
        ("bench.query.pip_join_salted", None, "_pip"),
        ("bench.query.pip_refine", None, "_pip"),
        ("bench.query.overlay", None, "_ov"),
    ],
}


def honesty_failures(trace: Trace, workload: str) -> list[str]:
    """Spans whose required Python UDF ran in no Python plan node — a sign
    that the output was pruned and the timing covers less work."""
    out = []
    for name, table, udf in HONESTY[workload]:
        for s in trace.named(name):
            if table not in (None, s.attrs.get("table")):
                continue
            if udf not in trace.python_udfs([s]):
                out.append(f"timing honesty: {name}#{s.id} ran {udf} in no {'/'.join(PYTHON_NODES)} node")
    return out
