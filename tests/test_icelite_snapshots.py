"""Snapshot time travel (Iceberg ``VERSION AS OF`` semantics, ref north
rule's Iceberg table): every batch commit is a readable snapshot, a reader
pinned to snapshot N is isolated from concurrent later commits AND from
orphan GC, and a manifest file whose pointer swap never happened is not a
snapshot."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from geospatial_spark.icelite import catalog as ice

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def workdir(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def _src(spark):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
        .withColumn("key", F.col("doc_id"))
    )


def test_every_batch_commit_is_a_snapshot(spark, workdir):
    df = _src(spark)
    man = ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=8, batch_size=2
    )
    assert man["version"] == 4  # 8 partitions / batch of 2
    assert ice.snapshots(workdir, "t") == [1, 2, 3, 4]

    # monotone row counts; the head snapshot equals the default read
    counts = [
        ice.read_table(spark, workdir, "t", as_of=v).count() for v in [1, 2, 3, 4]
    ]
    assert counts == sorted(counts)
    assert counts[-1] == df.count()
    head = sorted(
        ice.read_table(spark, workdir, "t").collect(), key=lambda r: r["doc_id"]
    )
    pinned = sorted(
        ice.read_table(spark, workdir, "t", as_of=4).collect(),
        key=lambda r: r["doc_id"],
    )
    assert head == pinned

    # snapshot N's rows are exactly the rows of the partitions committed by
    # manifest vN (subset relation against the head read)
    man2 = ice.manifest_at(workdir, "t", 2)
    pids_v2 = {rec["partition_id"] for rec in man2["partitions"]}
    assert len(pids_v2) == 4
    v2_rows = sorted(
        ice.read_table(spark, workdir, "t", as_of=2).collect(),
        key=lambda r: r["doc_id"],
    )
    assert set(v2_rows) <= set(head)
    assert len(v2_rows) == sum(rec["row_count"] for rec in man2["partitions"])


def test_pinned_read_isolated_from_concurrent_commit_and_gc(
    spark, workdir, inject_fault
):
    """The load-bearing Iceberg property after resume: a reader pinned to
    snapshot N sees identical rows while batch N+1 commits — including the
    orphan GC the next writer runs before its first batch."""
    df = _src(spark)
    inject_fault("before_write", skip=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        ice.write_partitioned(
            df, workdir, "t", stage="s1", key_col="key", n_partitions=8,
            batch_size=2,
        )
    v = ice.current_manifest(workdir, "t")["version"]
    assert v == 2
    pinned = ice.read_table(spark, workdir, "t", as_of=v)  # bind BEFORE resume
    before = sorted(pinned.collect(), key=lambda r: r["doc_id"])
    assert 0 < len(before) < df.count()

    # concurrent writer: GCs orphans, commits two more batches (v3, v4)
    ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=8, batch_size=2
    )
    assert ice.current_manifest(workdir, "t")["version"] == 4

    # the pinned plan re-collected after the commit: identical rows
    after = sorted(pinned.collect(), key=lambda r: r["doc_id"])
    assert after == before
    # and a FRESH as_of read of the same snapshot agrees too
    fresh = sorted(
        ice.read_table(spark, workdir, "t", as_of=v).collect(),
        key=lambda r: r["doc_id"],
    )
    assert fresh == before


def test_unswapped_manifest_is_not_a_snapshot(spark, workdir):
    """Crash window INSIDE _swap_manifest: v{N+1}.json renamed into place
    but the VERSION pointer still says N.  That manifest references a batch
    dir orphan GC may delete, so it must be invisible to time travel."""
    df = _src(spark)
    ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=4, batch_size=2
    )
    head = ice.current_manifest(workdir, "t")
    assert head["version"] == 2

    # simulate the crash: a v3.json exists, pointer still = 2
    orphan = dict(head, version=3)
    orphan["partitions"] = head["partitions"] + [
        dict(head["partitions"][-1], partition_id=99, batch="b3-deadbeef")
    ]
    with open(os.path.join(workdir, "t", "metadata", "v3.json"), "w") as f:
        json.dump(orphan, f)

    assert ice.snapshots(workdir, "t") == [1, 2]
    with pytest.raises(FileNotFoundError, match="no committed snapshot v3"):
        ice.manifest_at(workdir, "t", 3)
    with pytest.raises(FileNotFoundError):
        ice.read_table(spark, workdir, "t", as_of=3)
    # the head read is unaffected
    assert ice.read_table(spark, workdir, "t").count() == df.count()


def test_read_range_and_lineage_as_of(spark, workdir, inject_fault):
    """read_range/lineage time-travel: pruning bounds and metrics come
    from the pinned snapshot's manifest, not the head."""
    df = _src(spark)
    inject_fault("before_write", skip=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        ice.write_partitioned(
            df, workdir, "t", stage="s1", key_col="key", batch_size=1,
            range_bounds=[100, 250],
        )
    v = ice.current_manifest(workdir, "t")["version"]
    ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", batch_size=2,
        range_bounds=[100, 250],
    )
    assert ice.current_manifest(workdir, "t")["version"] > v
    # lineage as of v: exactly the first two batch commits
    lin_v = ice.lineage(spark, workdir, "t", as_of=v).collect()
    assert len(lin_v) == 2
    # range read pinned at v sees only rows committed by then
    pinned = ice.read_range(spark, workdir, "t", 0, 10**9, as_of=v)
    head = ice.read_range(spark, workdir, "t", 0, 10**9)
    assert pinned.count() == sum(r["row_count"] for r in lin_v)
    assert head.count() == df.count()


def test_missing_snapshot_raises_with_available_list(spark, workdir):
    df = _src(spark)
    ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=4, batch_size=4
    )
    with pytest.raises(FileNotFoundError, match=r"available: \[1\]"):
        ice.read_table(spark, workdir, "t", as_of=7)
    assert ice.snapshots(workdir, "missing_table") == []
