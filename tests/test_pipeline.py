"""End-to-end pipeline (pipeline.run): kill/resume across stages and the
Hilbert-range partitioning invariant (non-overlapping, ordered cell-id
ranges in the lineage — the file-pruning index)."""

from __future__ import annotations

import pytest

from geospatial_spark import pipeline
from geospatial_spark.icelite import catalog as ice

SF = "/root/testdata/sf0.001"


def test_pipeline_kill_resume_and_range_lineage(spark, tmp_path, inject_fault):
    out = str(tmp_path)
    # killed before the third batch of the first stage
    inject_fault("before_write", skip=2, table="points")
    with pytest.raises(RuntimeError, match="injected failure"):
        pipeline.run(spark, SF, out, n_partitions=8, batch_size=2)
    # stage 1 partially committed, later stages untouched
    assert len(ice.committed_partitions(out, "points")) == 4
    assert ice.current_manifest(out, "joined") is None

    manifests = pipeline.run(spark, SF, out, n_partitions=8, batch_size=2)
    pts = ice.read_table(spark, out, "points")
    joined = ice.read_table(spark, out, "joined")
    assert pts.count() == 12000  # oracle-verified extract_geocode cardinality
    assert joined.count() == 9803  # oracle-verified pip_join cardinality

    # Hilbert-range partitioning: per-partition [key_min, key_max] ranges
    # in the lineage are non-overlapping and ordered by partition id
    lin = sorted(
        (
            (r["partition_id"], r["key_min"], r["key_max"])
            for r in ice.lineage(spark, out, "points").collect()
            if r["row_count"] > 0
        ),
    )
    for (p0, _, mx0), (p1, mn1, _) in zip(lin, lin[1:]):
        assert p0 < p1 and mx0 <= mn1, (p0, mx0, p1, mn1)

    # resume produced complete manifests for every stage
    assert {s for s in manifests} == {"points", "joined", "tiles"}
    assert len(manifests["points"]["partitions"]) == 8

    # maintenance pass (--compact): every stage bin-packed to one
    # key-sorted file per non-empty partition, rows identical, and the
    # range lineage still non-overlapping (compaction recomputes stats by
    # reading back the compacted files)
    before = {
        t: sorted(tuple(r) for r in ice.read_table(spark, out, t).collect())
        for t in manifests
    }
    rep = pipeline.compact_tables(spark, out, list(manifests))
    for t in manifests:
        assert rep[t]["files_after"] <= len(manifests[t]["partitions"])
        assert rep[t]["files_after"] < rep[t]["files_before"] or t == "tiles"
        after = sorted(
            tuple(r) for r in ice.read_table(spark, out, t).collect()
        )
        assert after == before[t], t
    lin2 = sorted(
        (r["partition_id"], r["key_min"], r["key_max"])
        for r in ice.lineage(spark, out, "points").collect()
        if r["row_count"] > 0
    )
    for (p0, _, mx0), (p1, mn1, _) in zip(lin2, lin2[1:]):
        assert p0 < p1 and mx0 <= mn1, (p0, mx0, p1, mn1)
