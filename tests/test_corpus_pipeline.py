"""End-to-end corpus-curation pipeline (pipeline.run_corpus): partition of
every page into kept ∪ exactly-one-drop-reason, gate semantics (exact
dups, quality floor, near-dup components, domain cap), lineage/manifest
agreement, and rerun determinism."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from geospatial_spark import pipeline
from geospatial_spark.icelite import catalog as ice
from geospatial_spark.sources import pages as src

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def workdir(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_corpus_pipeline_end_to_end(spark, workdir):
    mans = pipeline.run_corpus(
        spark, SF, workdir, n_partitions=8, domain_cap_n=500
    )
    corpus = ice.read_table(spark, workdir, "corpus")
    audit = ice.read_table(spark, workdir, "audit")
    total = src.pages(spark, SF).count()

    # every page lands exactly once: kept or audited with ONE reason
    n_kept, n_drop = corpus.count(), audit.count()
    assert n_kept + n_drop == total
    assert audit.select("page_id").distinct().count() == n_drop
    assert (
        corpus.select("page_id")
        .join(audit.select("page_id"), "page_id")
        .count()
        == 0
    )

    # all four gates fire on this fixture (replicated pages guarantee
    # exact dups; mention-suffix variants guarantee near dups; the
    # single-host urls make the domain cap bind exactly)
    by_status = {
        r["status"]: r["n"]
        for r in audit.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert set(by_status) == {"dup_exact", "lowq", "dup_near", "over_domain_cap"}
    assert all(n > 0 for n in by_status.values())

    # single registrable domain + cap=500 → exactly 500 kept
    assert n_kept == 500
    doms = corpus.select("domain").distinct().collect()
    assert [r["domain"] for r in doms] == ["example.org"]

    # manifests agree with the tables (lineage row counts = data)
    assert sum(p["row_count"] for p in mans["corpus"]["partitions"]) == n_kept
    assert sum(p["row_count"] for p in mans["audit"]["partitions"]) == n_drop

    # split assignment is total and content-stable
    splits = {
        r["split"]: r["n"]
        for r in corpus.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert set(splits) <= {"train", "val", "test"} and splits["train"] > 0
    assert sum(splits.values()) == n_kept

    # the maintenance pass (--compact) runs on the curated tables:
    # bin-pack + expiry + self-auditing fsck, rows unchanged
    rep = pipeline.compact_tables(spark, workdir, ["corpus", "audit"])
    assert rep["corpus"]["files_after"] <= 8 and rep["corpus"]["verified"] > 0
    assert ice.read_table(spark, workdir, "corpus").count() == n_kept
    assert ice.read_table(spark, workdir, "audit").count() == n_drop


def test_corpus_pipeline_rerun_is_deterministic(spark, workdir):
    a = f"{workdir}/a"
    b = f"{workdir}/b"
    pipeline.run_corpus(spark, SF, a, n_partitions=4, domain_cap_n=300)
    pipeline.run_corpus(spark, SF, b, n_partitions=4, domain_cap_n=300)
    ka = sorted(
        r["page_id"] for r in ice.read_table(spark, a, "corpus").collect()
    )
    kb = sorted(
        r["page_id"] for r in ice.read_table(spark, b, "corpus").collect()
    )
    assert ka == kb and len(ka) == 300
    ra = sorted(
        (r["page_id"], r["status"])
        for r in ice.read_table(spark, a, "audit").collect()
    )
    rb = sorted(
        (r["page_id"], r["status"])
        for r in ice.read_table(spark, b, "audit").collect()
    )
    assert ra == rb


def test_corpus_killed_between_table_commits_then_rerun(
    spark, workdir, inject_fault
):
    """run_corpus commits ``corpus``, then ``audit``.  A kill between the
    two commits leaves corpus complete and audit absent; the rerun must
    keep the committed corpus (no new snapshot) and reach the same table
    pair as an uncrashed run, lineage and rows alike."""
    ref, got = f"{workdir}/ref", f"{workdir}/got"
    pipeline.run_corpus(spark, SF, ref, n_partitions=4)
    inject_fault("before_write", table="audit")
    with pytest.raises(RuntimeError, match="injected failure"):
        pipeline.run_corpus(spark, SF, got, n_partitions=4)
    assert ice.current_manifest(got, "audit") is None
    corpus_v = ice.current_manifest(got, "corpus")["version"]

    pipeline.run_corpus(spark, SF, got, n_partitions=4)
    assert ice.current_manifest(got, "corpus")["version"] == corpus_v
    for t in ("corpus", "audit"):
        lin = [
            sorted(
                (r["partition_id"], r["row_count"], r["checksum"])
                for r in ice.lineage(spark, root, t).collect()
            )
            for root in (ref, got)
        ]
        assert lin[0] == lin[1] and sum(n for _, n, _ in lin[0]) > 0
        rows = [
            sorted(tuple(r) for r in ice.read_table(spark, root, t).collect())
            for root in (ref, got)
        ]
        assert rows[0] == rows[1]
