"""The benchmark's workloads.

``ingest`` is the write path: set-up pays the session's cold start with a
small ``pipeline.run``; the measured phase is one warm ``pipeline.run`` +
``compact_tables`` pass with ``run_pipeline.py``'s defaults (16 partitions,
batch size 4: 9 batches) over the fixed pipeline fixture, then a seeded
events split streamed through ``streaming.sink.stream_to_icelite`` with
in-line compaction.

``spatial_queries`` is the read path: set-up stages a ``points`` table once;
the measured closed loop (one client) runs seeded rounds of four spatial
joins and ``icelite.read_range`` lookups.

Every query and operator output is forced through the ``noop`` sink; row
counts come from an ``Observation`` on the same action, so no extra job
runs and Catalyst cannot prune any output column.
"""

from __future__ import annotations

import random
import sys
import time
import traceback
from bisect import bisect_left, bisect_right

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from geospatial_spark import pipeline
from geospatial_spark.icelite import catalog as ice
from geospatial_spark.operators import overlay as ovl
from geospatial_spark.operators import pip_join as pj
from geospatial_spark.plans import planner
from geospatial_spark.sources import pages as src
from geospatial_spark.streaming import sink as snk
from geospatial_spark.streaming.ingest import EVENTS_SCHEMA

from . import inputs

# The pipeline fixture has the shape of the repo's sf0.001 fixture (500
# documents, 10,000 events); the warm-up fixture is a tenth of it.
FIXTURE_DOCS, FIXTURE_EVENTS = 500, 10_000
WARMUP_DOCS, WARMUP_EVENTS = 50, 1000
# ingest's stream: 12 micro-batches, a compaction after every 6th, so 2 of
# 12 latencies are maintenance spikes and op_p90_s sits on them
STREAM_EVENTS, STREAM_FILES, COMPACT_EVERY = 100_000, 12, 6
# spatial_queries: lookups per round, and warm-up lookups in set-up
LOOKUPS_PER_ROUND, WARMUP_LOOKUPS = 20, 10

# Row counts of the fixture: they depend only on the number of documents
# (page, mention and geocode derivations key on doc_id alone), so they
# equal the repo's sf0.001 and sf0.01 figures.
PINNED_ROWS = {"points": 12000, "joined": 9803, "tiles": 148, "overlay": 176}
# xor of the row hashes icelite commits for each pipeline table of this
# fixture (the checksum a re-partitioning or compaction must keep)
PINNED_XOR = {"points": 7421894088784991380, "joined": -4296336091082940800, "tiles": 3233603563380806098}
PIPELINE_TABLES = ("points", "joined", "tiles")
QUERIES = ("pip_join", "pip_join_salted", "pip_refine", "overlay")


def force(df: DataFrame) -> int:
    """Run df to completion through the noop sink; return its row count."""
    obs = Observation("bench_rows")
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["n"])


def probe_sources(run: "Run", fixture: str) -> None:
    """One extra source derivation, forced after the measured phase of a
    traced run: the sources layer's own cost."""
    with run.tracer.span("probe.extract_points"):
        force(src.extract_points(src.pages(run.spark, fixture), src.gazetteer(run.spark)))


def table_totals(root: str, table: str) -> tuple[int, int]:
    """(sum of row_count, xor of partition checksums) of the committed
    table — both independent of how rows are partitioned."""
    man = ice.current_manifest(root, table)
    rows, xor = 0, 0
    for rec in man["partitions"]:
        rows += int(rec["row_count"])
        xor ^= int(rec["checksum"])
    return rows, xor


class Op:
    def __init__(self, run: "Run", kind: str):
        self.run, self.kind, self.ok = run, kind, True

    def check(self, what: str, got, want) -> bool:
        if got != want:
            self.ok = False
            self.run.problems.append(f"{self.kind}: {what}: got {got!r}, want {want!r}")
        return got == want


class Run:
    """State of one benchmark run: operation accounting and timings."""

    def __init__(self, spark, tracer, seed: int, seconds: float, workdir: str):
        self.spark, self.tracer = spark, tracer
        self.seed, self.seconds, self.workdir = seed, seconds, workdir
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.job_times: list[float] = []
        self.op_times: list[float] = []
        self.detail: dict = {}

    def op(self, kind: str, fn):
        """Run one counted operation; returns (seconds, result, Op).  An
        exception or a failed check marks the operation failed."""
        o = Op(self, kind)
        self.attempted += 1
        t = time.perf_counter()
        try:
            res = fn(o)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.problems.append(f"{kind}: raised")
            res, o.ok = None, False
        dt = time.perf_counter() - t
        if not o.ok:
            self.failed += 1
        return dt, res, o


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class Ingest:
    name = "ingest"

    def __init__(self, run: Run):
        self.run = run
        w = run.workdir
        self.fixture = f"{w}/fixture"
        self.warmup_fixture = f"{w}/warmup_fixture"
        self.stream_in = f"{w}/stream_in"
        self.root = f"{w}/tables"

    def setup(self) -> None:
        r = self.run
        inputs.write_fixture(self.fixture, FIXTURE_DOCS, FIXTURE_EVENTS)
        inputs.write_fixture(self.warmup_fixture, WARMUP_DOCS, WARMUP_EVENTS)
        inputs.write_event_split(self.stream_in, STREAM_EVENTS, STREAM_FILES, r.seed)
        # the first pipeline pass of a session takes about twice as long
        # (JIT, Python worker start-up); pay that here on a small input.
        # Deriving only the points would leave several seconds of it in
        # the pass.
        t = time.perf_counter()
        pipeline.run(
            r.spark, self.warmup_fixture, f"{r.workdir}/warmup_tables", n_partitions=4, batch_size=4
        )
        r.detail["warmup_s"] = time.perf_counter() - t
        # independent expectation for the streamed table: the same
        # row-hash xor icelite commits, computed over the source files
        cols = ", ".join(EVENTS_SCHEMA.fieldNames())
        self.stream_xor = int(
            r.spark.read.schema(EVENTS_SCHEMA)
            .parquet(self.stream_in)
            .agg(F.expr(f"bit_xor(xxhash64({cols}))"))
            .collect()[0][0]
        )

    def measure(self) -> None:
        r = self.run

        def pipeline_pass(o: Op):
            with r.tracer.span("bench.pipeline_pass"):
                pipeline.run(r.spark, self.fixture, self.root)
                before = {t: table_totals(self.root, t) for t in PIPELINE_TABLES}
                report = pipeline.compact_tables(r.spark, self.root, list(PIPELINE_TABLES))
            for t in PIPELINE_TABLES:
                o.check(f"{t} rows, xor before compaction", before[t], (PINNED_ROWS[t], PINNED_XOR[t]))
                o.check(f"{t} rows, xor after compaction", table_totals(self.root, t), before[t])
                o.check(f"{t} verified", report[t]["verified"] > 0, True)

        dt, _, _ = r.op("pipeline_pass", pipeline_pass)
        r.job_times.append(dt)

        n_files = STREAM_FILES

        def stream(o: Op):
            with r.tracer.span("bench.stream"):
                q = snk.stream_to_icelite(
                    r.spark.readStream.schema(EVENTS_SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(self.stream_in),
                    self.root,
                    "events",
                    stage="stream_ingest",
                    key_col="event_id",
                    n_partitions=4,
                    checkpoint_dir=f"{r.workdir}/checkpoint",
                    compact_every=COMPACT_EVERY,
                )
                q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            o.check("micro-batch ids", sorted(p["batchId"] for p in progress), list(range(n_files)))
            man = ice.current_manifest(self.root, "events")
            live = {rec["batch"] for rec in man["partitions"] if rec["batch"].startswith("sb")}
            retired = {b for b in man.get("retired_batches", []) if b.startswith("sb")}
            o.check("tags both live and retired", sorted(live & retired), [])
            o.check("committed tags", sorted(live | retired), sorted(f"sb{i}" for i in range(n_files)))
            o.check("events rows, xor", table_totals(self.root, "events"), (STREAM_EVENTS, self.stream_xor))
            o.check("events verified", ice.verify_table(r.spark, self.root, "events")["ok"], True)
            return progress

        # the operations are the micro-batches: a missing or mis-committed
        # batch fails, and a failed check fails at least one
        dt, progress, o = r.op("stream", stream)
        progress = progress or []
        r.detail["stream_s"] = dt
        missing = n_files - len({p["batchId"] for p in progress})
        r.attempted += n_files - 1
        r.failed += max(missing, 0 if o.ok else 1) - (0 if o.ok else 1)
        for p in progress:
            d = p["durationMs"]
            r.op_times.append(d.get("addBatch", 0) / 1000.0)
        r.detail["trigger_overhead_s"] = sum(
            (p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)) / 1000.0
            for p in progress
        )
        r.detail["add_batch_s"] = sum(r.op_times)

    def committed_rows(self) -> int:
        return sum(
            table_totals(self.root, t)[0]
            for t in (*PIPELINE_TABLES, "events")
            if ice.current_manifest(self.root, t) is not None
        )


# ---------------------------------------------------------------------------
# spatial_queries
# ---------------------------------------------------------------------------


class SpatialQueries:
    name = "spatial_queries"

    def __init__(self, run: Run):
        self.run = run
        self.fixture = f"{run.workdir}/fixture"
        self.root = f"{run.workdir}/tables"
        self.rng = random.Random(run.seed)

    def _points_source(self):
        from geospatial_spark.functions import udfs

        s2c = udfs.s2_cell_udf(pipeline.S2_LEVEL)
        pts = src.extract_points(src.pages(self.run.spark, self.fixture), src.gazetteer(self.run.spark))
        return pts.withColumn("s2_cell", s2c(F.col("lat"), F.col("lon")))

    def setup(self) -> None:
        r = self.run
        inputs.write_fixture(self.fixture, FIXTURE_DOCS, FIXTURE_EVENTS)
        pts = self._points_source().persist()
        bounds = pipeline.hilbert_range_bounds(pts, "s2_cell", 16)
        ice.write_partitioned(
            pts, self.root, "points", stage="extract_geocode", key_col="s2_cell",
            range_bounds=bounds, batch_size=16,
        )
        pipeline.compact_tables(r.spark, self.root, ["points"])
        # independent lookup expectations: one aggregation over the source
        # rows, not over the icelite table
        hist = sorted(
            (int(row[0]), int(row[1])) for row in pts.groupBy("s2_cell").count().collect()
        )
        pts.unpersist()
        self.cells = [c for c, _ in hist]
        self.cum = [0]
        for _, n in hist:
            self.cum.append(self.cum[-1] + n)
        self.regions = src.regions(r.spark)
        self.holed = src.regions_holed(r.spark)
        self.stars = src.star_polygons(r.spark)
        # the first lookups of a session take about twice as long as later
        # ones; keep them out of op_p50_s / op_p90_s
        for _ in range(WARMUP_LOOKUPS):
            self.lookup()

    # one builder per query; each returns the output DataFrame
    def _points(self):
        return ice.read_table(self.run.spark, self.root, "points")

    def q_pip_join(self):
        pts = self._points()
        plan = planner.choose_pip_plan(pts, self.regions)
        return pj.pip_join(
            pts, self.regions, poly_id="region_id", precision=plan.precision,
            strategy=plan.strategy, salt=plan.salt,
            heavy_cell_rows=plan.heavy_cell_rows, point_cols=("url", "entity"),
        )

    def q_pip_join_salted(self):
        pts = self._points()
        plan = planner.choose_pip_plan(pts, self.regions, force_strategy="shuffle")
        return pj.pip_join(
            pts, self.regions, poly_id="region_id", precision=plan.precision,
            strategy="shuffle", salt=plan.salt,
            heavy_cell_rows=plan.heavy_cell_rows, point_cols=("url", "entity"),
        )

    def q_pip_refine(self):
        return pj.pip_join(
            self._points(), self.regions, poly_id="region_id", precision=4,
            strategy="broadcast", point_cols=("url", "entity"), refine="force",
        )

    def q_overlay(self):
        return ovl.overlay_join(self.holed, self.stars, how="all", strategy="broadcast")

    def lookup(self) -> tuple[float, int]:
        """One seeded ``read_range`` window, checked against the set-up
        aggregation; returns (latency, rows returned)."""
        r = self.run
        i = self.rng.randrange(len(self.cells))
        j = min(len(self.cells) - 1, i + self.rng.randrange(1, 64))
        lo, hi = self.cells[i], self.cells[j]
        want = self.cum[bisect_right(self.cells, hi)] - self.cum[bisect_left(self.cells, lo)]

        def op(o: Op):
            with r.tracer.span("bench.lookup"):
                n = force(ice.read_range(r.spark, self.root, "points", lo, hi))
            o.check(f"read_range [{lo}, {hi}] rows", n, want)
            return n

        dt, n, _ = r.op("lookup", op)
        return dt, n or 0

    def round(self) -> None:
        """One seeded round: the queries in shuffled order with the round's
        lookups spread between them."""
        r = self.run
        ops = list(QUERIES) + ["lookup"] * LOOKUPS_PER_ROUND
        self.rng.shuffle(ops)
        t0 = time.perf_counter()
        for name in ops:
            if name == "lookup":
                dt, n = self.lookup()
                r.op_times.append(dt)
                r.detail["lookup_rows"] = r.detail.get("lookup_rows", 0) + n
                continue

            def query(o: Op, name=name):
                with r.tracer.span(f"bench.query.{name}"):
                    n = force(getattr(self, f"q_{name}")())
                want = PINNED_ROWS["joined" if name.startswith("pip") else name]
                o.check(f"{name} rows", n, want)
                return n

            dt, _, _ = r.op(name, query)
            r.detail.setdefault("query_s", {}).setdefault(name, []).append(dt)
        r.job_times.append(time.perf_counter() - t0)

    def measure(self) -> None:
        t0 = time.perf_counter()
        while not self.run.job_times or time.perf_counter() - t0 < self.run.seconds:
            self.round()

    def committed_rows(self) -> int:
        return table_totals(self.root, "points")[0]


WORKLOADS = {w.name: w for w in (Ingest, SpatialQueries)}
