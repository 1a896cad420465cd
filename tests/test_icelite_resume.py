"""Resume semantics (north rule N6): a killed partitioned write resumes from
the last committed partition — no recompute of committed partitions, final
output identical to an uninterrupted run."""

from __future__ import annotations

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


def test_kill_and_resume(spark, workdir, inject_fault):
    df = _src(spark)

    # uninterrupted reference run
    ice.write_partitioned(
        df, workdir, "ref", stage="s1", key_col="key", n_partitions=8, batch_size=2
    )
    ref = ice.read_table(spark, workdir, "ref")
    ref_rows = sorted(ref.collect(), key=lambda r: r["doc_id"])

    # killed run: crashes after committing 2 of 4 batches
    inject_fault("before_write", skip=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        ice.write_partitioned(
            df, workdir, "t", stage="s1", key_col="key", n_partitions=8,
            batch_size=2,
        )
    committed_before = ice.committed_partitions(workdir, "t")
    assert len(committed_before) == 4  # 2 batches x 2 partitions
    man_v_before = ice.current_manifest(workdir, "t")["version"]

    # resume: only the remaining partitions are processed
    man = ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=8, batch_size=2
    )
    assert ice.committed_partitions(workdir, "t") == set(range(8))
    # committed partitions were NOT rewritten: their lineage rows are unchanged
    by_pid = {r["partition_id"]: r for r in man["partitions"]}
    assert len(man["partitions"]) == 8  # no duplicate commits
    for p in committed_before:
        assert by_pid[p]["committed_at"] < man["partitions"][-1]["committed_at"]
    assert man["version"] == man_v_before + 2  # exactly 2 more batch commits

    # final output identical to the uninterrupted run
    got = sorted(
        ice.read_table(spark, workdir, "t").collect(), key=lambda r: r["doc_id"]
    )
    assert got == ref_rows

    # lineage table: checksums match the reference run partition-for-partition
    lin_ref = {
        r["partition_id"]: (r["row_count"], r["checksum"])
        for r in ice.lineage(spark, workdir, "ref").collect()
    }
    lin_t = {
        r["partition_id"]: (r["row_count"], r["checksum"])
        for r in ice.lineage(spark, workdir, "t").collect()
    }
    assert lin_ref == lin_t


def test_rerun_is_noop(spark, workdir):
    df = _src(spark)
    man1 = ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=4, batch_size=4
    )
    man2 = ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=4, batch_size=4
    )
    assert man2["version"] == man1["version"]  # nothing to do → no new snapshot
    assert len(man2["partitions"]) == 4


def test_crash_window_orphan_ignored(spark, workdir, inject_fault):
    """Kill BETWEEN the batch data write and the manifest swap (the round-1
    untested window): the orphan batch dir must be invisible to readers and
    the resumed run must produce exactly the reference rows (no dup rows
    from re-appending)."""
    df = _src(spark)
    ice.write_partitioned(
        df, workdir, "ref", stage="s1", key_col="key", n_partitions=8, batch_size=2
    )
    ref_rows = sorted(
        ice.read_table(spark, workdir, "ref").collect(), key=lambda r: r["doc_id"]
    )

    inject_fault("after_write", skip=1)
    with pytest.raises(RuntimeError, match="before manifest swap"):
        ice.write_partitioned(
            df, workdir, "t", stage="s1", key_col="key", n_partitions=8,
            batch_size=2,
        )
    # one batch committed, one orphaned on disk
    assert len(ice.committed_partitions(workdir, "t")) == 2
    partial = ice.read_table(spark, workdir, "t")
    assert partial.count() < len(ref_rows)

    man = ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", n_partitions=8, batch_size=2
    )
    assert len(man["partitions"]) == 8  # no partition committed twice
    got = sorted(
        ice.read_table(spark, workdir, "t").collect(), key=lambda r: r["doc_id"]
    )
    assert got == ref_rows  # orphan rows did NOT leak in


def test_resume_partitioning_mismatch_raises(spark, workdir, inject_fault):
    """Round-2 advice: resuming with a different partitioning than the
    manifest committed must raise, not silently mis-assign remaining rows."""
    df = _src(spark)
    inject_fault("before_write", skip=1)
    with pytest.raises(RuntimeError, match="injected failure"):
        ice.write_partitioned(
            df, workdir, "h", stage="s1", key_col="key", n_partitions=8,
            batch_size=2,
        )
    # hash-committed + range requested → raise
    with pytest.raises(ValueError, match="committed partitioning is hash"):
        ice.write_partitioned(
            df, workdir, "h", stage="s1", key_col="key", batch_size=2,
            range_bounds=[100, 250],
        )
    # hash-committed + different n_partitions → raise
    with pytest.raises(ValueError, match="n_partitions"):
        ice.write_partitioned(
            df, workdir, "h", stage="s1", key_col="key", n_partitions=4,
            batch_size=2,
        )
    # matching partitioning resumes fine
    man = ice.write_partitioned(
        df, workdir, "h", stage="s1", key_col="key", n_partitions=8, batch_size=2
    )
    assert len(man["partitions"]) == 8


def test_range_bounds_persisted_on_resume(spark, workdir, inject_fault):
    """Resume must reuse the COMMITTED range bounds even when the caller
    passes different (recomputed/drifted) bounds."""
    df = _src(spark)
    inject_fault("before_write", skip=1)
    with pytest.raises(RuntimeError, match="injected failure"):
        ice.write_partitioned(
            df, workdir, "t", stage="s1", key_col="key", batch_size=1,
            range_bounds=[100, 250],
        )
    man = ice.write_partitioned(
        df, workdir, "t", stage="s1", key_col="key", batch_size=2,
        range_bounds=[90, 300],  # drifted — must be ignored
    )
    assert man["range_bounds"] == [100, 250]
    lin = {r["partition_id"]: r for r in ice.lineage(spark, workdir, "t").collect()}
    # partition key ranges obey the ORIGINAL bounds
    assert lin[0]["key_max"] <= 100
    assert lin[1]["key_min"] > 100 and lin[1]["key_max"] <= 250
    assert lin[2]["key_min"] > 250
    total = sum(r["row_count"] for r in lin.values())
    assert total == df.count()


def test_read_range_prunes_partitions(spark, workdir):
    """Range-partitioned table: a narrow key-range read must (a) return
    exactly the rows a full-scan filter returns, (b) select a strict
    subset of partitions from the manifest bounds, and (c) push the
    partition-id filter into the scan's PartitionFilters (file-listing
    pruning — non-overlapping partition dirs are never opened)."""
    import contextlib
    import io

    df = _src(spark)
    bounds = [100, 200, 300]  # 4 range partitions over doc_id
    ice.write_partitioned(
        df, workdir, "rng", stage="s1", key_col="key",
        range_bounds=bounds, batch_size=2,
    )
    man = ice.current_manifest(workdir, "rng")
    lo, hi = 120, 180  # entirely inside partition 1 (101..200)
    sel = ice.partitions_for_range(man, lo, hi)
    assert sel, "no partitions selected"
    assert len({p for p, _ in sel}) < man["n_partitions"]

    pruned = ice.read_range(spark, workdir, "rng", lo, hi)
    full = ice.read_table(spark, workdir, "rng").filter(
        (F.col("key") >= lo) & (F.col("key") <= hi)
    )
    got = sorted(pruned.collect(), key=lambda r: r["doc_id"])
    want = sorted(full.collect(), key=lambda r: r["doc_id"])
    assert got == want and len(got) > 0

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and any("__pid" in l for l in part_lines), plan

    # an empty range (no overlapping bounds) returns zero rows, same schema
    empty = ice.read_range(spark, workdir, "rng", 10_000_000, 20_000_000)
    assert empty.count() == 0
    assert empty.columns == pruned.columns


def test_read_range_pushes_key_bounds_to_parquet(spark, workdir):
    """The three pruning tiers of a range read, pinned in the plan: the
    manifest's (batch, pid) selection lands in PartitionFilters (directory
    listing — non-overlapping partitions never opened), and the residual
    key bounds land in PushedFilters (Catalyst unwraps the bigint cast on
    integral keys), where the sort-order compaction's row-group min/max
    stats make them skip row groups INSIDE the surviving files.  A cast
    that stopped unwrapping would silently demote every range read to a
    full-file scan — this pin fails loudly instead."""
    import contextlib
    import io

    df = _src(spark)
    ice.write_partitioned(
        df, workdir, "pp", stage="s1", key_col="key", n_partitions=8,
        batch_size=2,
    )
    ice.rewrite_files(spark, workdir, "pp")
    rr = ice.read_range(spark, workdir, "pp", 100, 200)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rr.explain("formatted")
    plan = buf.getvalue()
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    part = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pushed and "GreaterThanOrEqual(key,100)" in pushed[0], pushed
    assert "LessThanOrEqual(key,200)" in pushed[0], pushed
    assert part and "__batch" in part[0] and "__pid" in part[0], part


def test_schema_drift_refused(spark, workdir, inject_fault):
    """icelite tables are schema-frozen (documented divergence from
    Iceberg's id-based evolution): an append or resume whose DataFrame
    schema differs from the committed one would land mixed-schema parquet
    under one table — the scan's inferred schema would then depend on
    which footer Spark samples.  Both writers must refuse loudly."""
    import pytest as _pt
    from pyspark.sql import functions as F

    df = _src(spark)
    ice.append_batch(
        df, workdir, "ta", stage="ing", key_col="key", n_partitions=4,
        batch_tag="sb0",
    )
    drifted = df.withColumn("extra", F.lit(1))
    with _pt.raises(ValueError, match="schema-frozen"):
        ice.append_batch(
            drifted, workdir, "ta", stage="ing", key_col="key",
            n_partitions=4, batch_tag="sb1",
        )
    # replay of a committed tag stays a no-op even with a drifted frame
    # (the replay check runs before the schema guard on purpose: replays
    # never write, so they can never corrupt)
    man = ice.append_batch(
        drifted, workdir, "ta", stage="ing", key_col="key",
        n_partitions=4, batch_tag="sb0",
    )
    assert man["version"] == 1

    inject_fault("before_write", skip=1)
    with _pt.raises(RuntimeError, match="injected failure"):
        ice.write_partitioned(
            df, workdir, "tb", stage="s1", key_col="key", n_partitions=4,
            batch_size=2,
        )
    with _pt.raises(ValueError, match="schema-frozen"):
        ice.write_partitioned(
            drifted, workdir, "tb", stage="s1", key_col="key",
            n_partitions=4, batch_size=2,
        )
    # the unchanged frame still resumes to completion
    man = ice.write_partitioned(
        df, workdir, "tb", stage="s1", key_col="key", n_partitions=4,
        batch_size=2,
    )
    assert len(man["partitions"]) == 4
