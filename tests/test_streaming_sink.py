"""Exactly-once streaming→icelite sink: a multi-batch replay of the events
fixture commits per-micro-batch lineage into the icelite manifest; restart
from checkpoint never double-commits; the data-written-but-not-swapped
crash window is GC'd and rewritten, not duplicated."""

from __future__ import annotations

import glob
import os
import time as _time

import pytest
from pyspark.sql import functions as F

from geospatial_spark.icelite import catalog as ice
from geospatial_spark.streaming import sink as snk

SF = "/root/testdata/sf0.001"


def _split_events(spark, src_dir, n_parts=4):
    """Events fixture as n chronological parquet files with pinned mtimes
    (FileStreamSource orders by mtime — write-task completion order is
    nondeterministic)."""
    from pyspark.sql import Window

    events = spark.read.parquet(f"{SF}/events.parquet")
    (
        events.orderBy("ts")
        .withColumn("part", F.ntile(n_parts).over(Window.orderBy("ts")))
        .repartitionByRange(n_parts, "part")
        .write.partitionBy("part")
        .parquet(str(src_dir))
    )
    base = _time.time()
    for k in range(1, n_parts + 1):
        for f in glob.glob(str(src_dir / f"part={k}") + "/*"):
            os.utime(f, (base + k, base + k))
    return events


def _stream(spark, src_dir, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )


def test_stream_sink_exactly_once_with_restart(spark, tmp_path):
    events = _split_events(spark, tmp_path / "src")
    schema = events.withColumn("part", F.lit(1)).schema
    root, ckpt = str(tmp_path / "ice"), str(tmp_path / "ckpt")

    q = snk.stream_to_icelite(
        _stream(spark, tmp_path / "src", schema).drop("part"),
        root, "ev", stage="ingest", key_col="event_id",
        n_partitions=4, checkpoint_dir=ckpt,
    )
    q.awaitTermination()
    man = ice.current_manifest(root, "ev")
    tags = {rec["batch"] for rec in man["partitions"]}
    assert tags == {"sb0", "sb1", "sb2", "sb3"}  # one commit per micro-batch
    got = ice.read_table(spark, root, "ev")
    assert got.count() == events.count()
    # lineage: per-partition rows sum to the input, checksums present
    lin = ice.lineage(spark, root, "ev").collect()
    assert sum(r["row_count"] for r in lin) == events.count()

    # COMPACT the accreted per-micro-batch small files (round-5 verdict
    # item 5: the stream wrote n_partitions files per micro-batch) before
    # the restart — the checkpoint replay crossing a compaction is exactly
    # the hazard retired_batches exists for
    man_c = ice.rewrite_files(spark, root, "ev")
    assert set(man_c["retired_batches"]) == tags
    assert ice.read_table(spark, root, "ev").count() == events.count()
    compact_tag = man_c["partitions"][0]["batch"]

    # restart from the SAME checkpoint with one new file: only the new
    # micro-batch commits; nothing is double-committed
    extra = events.orderBy("event_id").limit(7).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 365 DAYS")
    ).withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
    extra.withColumn("part", F.lit(9)).coalesce(1).write.partitionBy(
        "part"
    ).mode("append").parquet(str(tmp_path / "src"))
    for f in glob.glob(str(tmp_path / "src" / "part=9") + "/*"):
        os.utime(f, (_time.time() + 99, _time.time() + 99))

    q2 = snk.stream_to_icelite(
        _stream(spark, tmp_path / "src", schema).drop("part"),
        root, "ev", stage="ingest", key_col="event_id",
        n_partitions=4, checkpoint_dir=ckpt,
    )
    q2.awaitTermination()
    man2 = ice.current_manifest(root, "ev")
    tags2 = {rec["batch"] for rec in man2["partitions"]}
    # replayed sb0-sb3 stayed no-ops (retired by the compaction); only the
    # genuinely new micro-batch committed on top of the compacted batch
    assert tags2 == {compact_tag, "sb4"}
    assert set(man2["retired_batches"]) == {"sb0", "sb1", "sb2", "sb3"}
    assert ice.read_table(spark, root, "ev").count() == events.count() + 7
    # global content checksum is conserved across compaction + append:
    # xor of per-partition checksums is order/bucketing-insensitive
    xor_before = 0
    for rec in man["partitions"]:
        xor_before ^= rec["checksum"]
    xor_after = 0
    for rec in man2["partitions"]:
        if rec["batch"] != "sb4":
            xor_after ^= rec["checksum"]
    assert xor_after == xor_before


def test_stream_sink_auto_compaction_bounds_files(spark, tmp_path):
    """compact_every: the maintenance loop runs IN the stream (after
    batches k-1, 2k-1, ...), so a long-running stream's file count stays
    bounded instead of accreting n_partitions files per micro-batch; a
    restart replaying compacted-away batches stays a no-op and new data
    still lands exactly once."""
    events = _split_events(spark, tmp_path / "src")
    schema = events.withColumn("part", F.lit(1)).schema
    root, ckpt = str(tmp_path / "ice"), str(tmp_path / "ckpt")

    q = snk.stream_to_icelite(
        _stream(spark, tmp_path / "src", schema).drop("part"),
        root, "ev", stage="ingest", key_col="event_id",
        n_partitions=4, checkpoint_dir=ckpt,
        compact_every=2, expire_keep_last=1,
    )
    q.awaitTermination()
    man = ice.current_manifest(root, "ev")
    # 4 micro-batches, compactions after sb1 and sb3: the live manifest
    # references ONE compacted batch; every sb tag (and the first
    # compaction's own tag) is retired
    live_tags = {rec["batch"] for rec in man["partitions"]}
    assert len(live_tags) == 1 and next(iter(live_tags)).startswith("c")
    assert {"sb0", "sb1", "sb2", "sb3"} <= set(man["retired_batches"])
    assert ice.read_table(spark, root, "ev").count() == events.count()
    # expire_keep_last=1 reclaimed the pre-compaction dirs: exactly one
    # file per non-empty partition remains on disk
    files = glob.glob(f"{root}/ev/data/__batch=*/__pid=*/*.parquet")
    assert len(files) <= 4, files

    # restart with one new file: replays of retired batches are no-ops,
    # the new micro-batch commits, rows exact
    extra = events.orderBy("event_id").limit(5).withColumn(
        "event_id", F.col("event_id") + F.lit(20_000_000)
    )
    extra.withColumn("part", F.lit(9)).coalesce(1).write.partitionBy(
        "part"
    ).mode("append").parquet(str(tmp_path / "src"))
    for f in glob.glob(str(tmp_path / "src" / "part=9") + "/*"):
        os.utime(f, (_time.time() + 99, _time.time() + 99))
    q2 = snk.stream_to_icelite(
        _stream(spark, tmp_path / "src", schema).drop("part"),
        root, "ev", stage="ingest", key_col="event_id",
        n_partitions=4, checkpoint_dir=ckpt,
        compact_every=2, expire_keep_last=1,
    )
    q2.awaitTermination()
    assert ice.read_table(spark, root, "ev").count() == events.count() + 5


def test_stream_sink_rejects_bad_compact_every(tmp_path):
    # the guard fires before the stream (or any filesystem) is touched
    with pytest.raises(ValueError, match="compact_every"):
        snk.stream_to_icelite(
            None, str(tmp_path), "ev", stage="s", key_col="k",
            checkpoint_dir=str(tmp_path / "c"), compact_every=0,
        )


def test_append_batch_replay_is_noop(spark, tmp_path):
    df = spark.read.parquet(f"{SF}/events.parquet").limit(100)
    root = str(tmp_path / "ice")
    m1 = ice.append_batch(
        df, root, "t", stage="s", key_col="event_id", n_partitions=4,
        batch_tag="sb0",
    )
    v1 = m1["version"]
    # replay: same tag offered again (checkpoint recovery) — must be a no-op
    m2 = ice.append_batch(
        df, root, "t", stage="s", key_col="event_id", n_partitions=4,
        batch_tag="sb0",
    )
    assert m2["version"] == v1
    assert ice.read_table(spark, root, "t").count() == 100


def test_append_batch_crash_window_retry_no_dup(spark, tmp_path, inject_fault):
    """Crash AFTER the data write, BEFORE the manifest swap: the retry must
    GC the orphan and land exactly one copy of the rows."""
    df = spark.read.parquet(f"{SF}/events.parquet").limit(100)
    root = str(tmp_path / "ice")
    ice.append_batch(
        df, root, "t", stage="s", key_col="event_id", n_partitions=4,
        batch_tag="sb0",
    )
    inject_fault("after_write", prefix="sb1")
    with pytest.raises(RuntimeError, match="before manifest swap"):
        ice.append_batch(
            df, root, "t", stage="s", key_col="event_id", n_partitions=4,
            batch_tag="sb1",
        )
    # reader never sees the orphan
    assert ice.read_table(spark, root, "t").count() == 100
    # retry of the same batch id: exactly one copy
    ice.append_batch(
        df, root, "t", stage="s", key_col="event_id", n_partitions=4,
        batch_tag="sb1",
    )
    assert ice.read_table(spark, root, "t").count() == 200
    tags = {r["batch"] for r in ice.current_manifest(root, "t")["partitions"]}
    assert tags == {"sb0", "sb1"}


def test_append_batch_key_mismatch_and_bad_tag(spark, tmp_path):
    df = spark.read.parquet(f"{SF}/events.parquet").limit(10)
    root = str(tmp_path / "ice")
    ice.append_batch(
        df, root, "t", stage="s", key_col="event_id", batch_tag="sb0"
    )
    with pytest.raises(ValueError, match="key_col"):
        ice.append_batch(
            df, root, "t", stage="s", key_col="user_id", batch_tag="sb1"
        )
    with pytest.raises(ValueError, match="n_partitions"):
        ice.append_batch(
            df, root, "t", stage="s", key_col="event_id", n_partitions=4,
            batch_tag="sb1",
        )
    with pytest.raises(ValueError, match="batch_tag"):
        ice.append_batch(
            df, root, "t", stage="s", key_col="event_id", batch_tag="a/b"
        )


def test_append_batch_new_pid_in_later_batch_is_read(spark, tmp_path):
    """Round-4 advice (high): appended batches record NAMESPACED lineage
    partition_ids (version*n + pid) while the parquet files carry the raw
    ``__pid`` — readers must pair (batch, raw pid).  The round-4 reader
    filtered a flat ``__pid.isin(all partition_ids)``, silently dropping
    any later batch whose raw pid the version-0 batch did not cover."""
    root = str(tmp_path / "ice")
    one = spark.createDataFrame([(1, "a")], "k bigint, v string")
    many = spark.createDataFrame(
        [(i, "b") for i in range(20)], "k bigint, v string"
    )
    ice.append_batch(
        one, root, "t", stage="s", key_col="k", n_partitions=16,
        batch_tag="sb0",
    )
    ice.append_batch(
        many, root, "t", stage="s", key_col="k", n_partitions=16,
        batch_tag="sb1",
    )
    man = ice.current_manifest(root, "t")
    pids = {
        tag: {r["pid"] for r in man["partitions"] if r["batch"] == tag}
        for tag in ("sb0", "sb1")
    }
    # the fixture must actually exercise the bug path: sb1 writes raw pids
    # sb0 never covered
    assert not pids["sb1"] <= pids["sb0"]
    got = sorted(r["k"] for r in ice.read_table(spark, root, "t").collect())
    assert got == sorted([1] + list(range(20)))
    rng = sorted(r["k"] for r in ice.read_range(spark, root, "t", 0, 100).collect())
    assert rng == got


def test_cross_mode_writes_refused(spark, tmp_path):
    """Round-4 advice (low): a write_partitioned resume over an appended
    table would misread namespaced append partition_ids as its own raw
    pids and skip those partitions forever; appends onto batch/range
    tables are equally invalid.  Both directions must fail loudly."""
    df = spark.createDataFrame([(i, "x") for i in range(10)], "k bigint, v string")
    root = str(tmp_path / "ice")
    ice.append_batch(df, root, "a", stage="s", key_col="k", batch_tag="sb0")
    with pytest.raises(ValueError, match="cannot resume"):
        ice.write_partitioned(df, root, "a", stage="s", key_col="k")
    ice.write_partitioned(df, root, "b", stage="s", key_col="k")
    with pytest.raises(ValueError, match="cannot extend"):
        ice.append_batch(df, root, "b", stage="s", key_col="k", batch_tag="sb0")
    ice.write_partitioned(
        df, root, "c", stage="s", key_col="k", range_bounds=[5]
    )
    with pytest.raises(ValueError, match="cannot extend"):
        ice.append_batch(df, root, "c", stage="s", key_col="k", batch_tag="sb0")
