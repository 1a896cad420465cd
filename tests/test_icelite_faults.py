"""Crash at every commit phase of every icelite writer.

``write_partitioned``, ``append_batch`` and ``rewrite_files`` share one
commit core, and ``catalog.FAULT_HOOK`` is its one fault-point seam:
``before_write`` (nothing on disk), ``after_write`` (orphan batch on disk,
manifest not swapped) and ``after_swap`` (committed, the caller never
heard back).  For every writer × point, a crashed run followed by a rerun
(resume / replay / retry) must reach the same row count and xor checksum
as an uncrashed run.  A batch directory lost between the write and the
commit must trip the row-conservation guard on every writer and commit
nothing.  Also here: the stats expression quotes column names, and reads
list only committed batch directories."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from geospatial_spark.icelite import catalog as ice

from .conftest import SF_SMOKE as SF

POINTS = ("before_write", "after_write", "after_swap")


def _src(spark):
    return (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
        .withColumn("key", F.col("doc_id"))
    )


def _hash(spark, df, root):
    ice.write_partitioned(
        df, root, "t", stage="s1", key_col="key", n_partitions=4, batch_size=2
    )


def _range(spark, df, root):
    ice.write_partitioned(
        df, root, "t", stage="s1", key_col="key", batch_size=2,
        range_bounds=[100, 250],
    )


def _append(spark, df, root):
    # a streaming restart re-offers every micro-batch: committed tags are
    # replays (no-ops), the crashed one is retried
    for tag, part in (("sb0", 0), ("sb1", 1)):
        ice.append_batch(
            df.filter(F.col("doc_id") % 2 == part), root, "t", stage="ing",
            key_col="key", n_partitions=4, batch_tag=tag,
        )


def _rewrite(spark, df, root):
    ice.rewrite_files(spark, root, "t")


def _no_setup(spark, df, root):
    pass


# writer → (set-up run before the fault is armed, the faulted run, the
# batch-tag prefix of the faulted run's commits)
WRITERS = {
    "write_partitioned_hash": (_no_setup, _hash, "b"),
    "write_partitioned_range": (_no_setup, _range, "b"),
    "append_batch": (_no_setup, _append, "sb"),
    "rewrite_files": (_hash, _rewrite, "c"),
}


def _summary(spark, root):
    """(manifest rows, manifest xor checksum, rows read) of table t, after
    checking the fsck and that no in-flight marker was left behind."""
    man = ice.current_manifest(root, "t")
    xor = 0
    for rec in man["partitions"]:
        xor ^= rec["checksum"]
    assert ice.verify_table(spark, root, "t")["ok"]
    inflight = os.path.join(root, "t", "metadata", "inflight")
    assert not os.path.isdir(inflight) or os.listdir(inflight) == []
    return (
        sum(rec["row_count"] for rec in man["partitions"]),
        xor,
        ice.read_table(spark, root, "t").count(),
    )


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    """Summary of an uncrashed run of every writer."""
    out = {}
    df = _src(spark)
    for name, (setup, run, _) in WRITERS.items():
        root = str(tmp_path_factory.mktemp(name))
        setup(spark, df, root)
        run(spark, df, root)
        out[name] = _summary(spark, root)
    return out


@pytest.mark.parametrize("point", POINTS)
@pytest.mark.parametrize("writer", list(WRITERS))
def test_crash_then_rerun_converges(
    spark, tmp_path, inject_fault, reference, writer, point
):
    setup, run, prefix = WRITERS[writer]
    df = _src(spark)
    root = str(tmp_path)
    setup(spark, df, root)
    inject_fault(point, prefix=prefix)
    with pytest.raises(RuntimeError, match=f"injected failure at {point}"):
        run(spark, df, root)
    run(spark, df, root)  # resume / replay / retry
    assert _summary(spark, root) == reference[writer]


@pytest.mark.parametrize("writer", list(WRITERS))
def test_lost_batch_dir_trips_row_conservation(
    spark, tmp_path, inject_fault, reference, writer
):
    """The GC-race / partial-write class: the batch directory vanishes
    between the data write and the stats read-back.  Every writer must
    abort loudly — no commit, no in-flight marker left — instead of
    committing row_count=0 for the lost rows."""
    setup, run, prefix = WRITERS[writer]
    df = _src(spark)
    root = str(tmp_path)
    setup(spark, df, root)
    version = ice._version_pointer(root, "t")
    lost = []

    def delete_batch_dir(tag):
        lost.append(tag)
        shutil.rmtree(f"{root}/t/data/__batch={tag}")

    inject_fault("after_write", prefix=prefix, action=delete_batch_dir)
    with pytest.raises(RuntimeError, match="row-conservation"):
        run(spark, df, root)
    assert ice._version_pointer(root, "t") == version
    assert not os.path.exists(f"{root}/t/metadata/inflight/{lost[0]}")
    run(spark, df, root)
    assert _summary(spark, root) == reference[writer]


def test_stats_quote_column_names(spark, tmp_path):
    """A data column named ``doc-id`` must not parse as ``doc - id`` in the
    checksum expression: every writer commits, and the committed checksum
    equals the xor of the row hashes over all data columns."""
    root = str(tmp_path)
    df = _src(spark).withColumn("doc-id", F.col("doc_id") * 2)
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    want = df.agg(F.count(F.lit(1)), F.bit_xor(h)).first()
    ice.write_partitioned(
        df, root, "t", stage="s1", key_col="key", n_partitions=4, batch_size=2
    )
    ice.append_batch(
        df, root, "a", stage="ing", key_col="key", n_partitions=4,
        batch_tag="sb0",
    )
    for table in ("t", "a"):
        man = ice.rewrite_files(spark, root, table)
        xor = 0
        for rec in man["partitions"]:
            xor ^= rec["checksum"]
        assert (sum(r["row_count"] for r in man["partitions"]), xor) == tuple(want)
        assert ice.verify_table(spark, root, table)["ok"]
        assert ice.verify_table(spark, root, table, as_of=1)["ok"]
        assert "doc-id" in ice.read_table(spark, root, table).columns


def test_reads_skip_inflight_partial_file(spark, tmp_path):
    """A concurrent writer's in-flight batch holding a half-written parquet
    file must not fail (or leak into) reads and the fsck of a healthy
    table: only the manifest's committed batch directories are listed."""
    root = str(tmp_path)
    df = _src(spark)
    _hash(spark, df, root)
    total = df.count()
    good = sorted(glob.glob(f"{root}/t/data/__batch=*/__pid=*/*.parquet"))[0]
    with open(good, "rb") as f:
        head = f.read(max(16, os.path.getsize(good) // 2))
    partial = f"{root}/t/data/__batch=a0-inflight/__pid=0"
    os.makedirs(partial)
    with open(f"{partial}/part-00000.parquet", "wb") as f:
        f.write(head)
    ice._mark_inflight(root, "t", "a0-inflight")

    rep = ice.verify_table(spark, root, "t")
    assert rep["ok"] and rep["partitions_checked"] == 4, rep
    assert ice.read_table(spark, root, "t").count() == total
    want = df.filter((F.col("key") >= 100) & (F.col("key") <= 300)).count()
    assert ice.read_range(spark, root, "t", 100, 300).count() == want
