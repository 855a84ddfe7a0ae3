"""Write-audit-publish (begin_publish / read_candidate /
commit_publish / abort_publish): a candidate is committed onto its own
audit branch, audited at full parallelism, then published with one
fast-forward pointer replace — or discarded without the live table
ever changing.
Reference analog: validate.sh's upload-then-query flow gets its safety
from S3 atomic PUTs; WAP is the multi-file transactional version."""

from __future__ import annotations

import os
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    ConcurrentLakeModificationError,
    abort_publish,
    append_rows,
    begin_publish,
    commit_publish,
    delete_rows,
    delete_rows_mor,
    list_branches,
    load,
    publish_overwrite,
    read_candidate,
    read_manifest,
    read_table,
    vacuum_manifests,
    verify_table,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def nation_manifest(spark, sf_dir, tmp_path):
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = str(tmp_path / "nation")
    publish_overwrite(spark, path, n, ["n_regionkey"])
    return path, n


def test_candidate_invisible_until_commit(spark, nation_manifest):
    path, n = nation_manifest
    before = _rows(read_table(spark, path))
    v_before = read_manifest(path)["version"]
    upd = n.withColumn("n_name", F.lower("n_name"))
    cand = begin_publish(spark, path, upd, ["n_regionkey"])
    # live table untouched: same version, same rows
    assert read_manifest(path)["version"] == v_before
    assert _rows(read_table(spark, path)) == before
    # the audit read sees the candidate's data
    audited = read_candidate(spark, path, cand)
    assert audited.filter(F.col("n_name") != F.lower("n_name")).count() == 0
    assert audited.count() == n.count()
    # promote: one atomic commit, reader flips to the new state
    snap = commit_publish(path, cand)
    assert snap["version"] == v_before + 1
    got = read_table(spark, path)
    assert got.count() == n.count()
    assert got.filter(F.col("n_name") != F.lower("n_name")).count() == 0
    # no wap_ branch left
    assert not [b for b in list_branches(path) if b.startswith("wap_")]


def test_abort_leaves_live_byte_identical(spark, nation_manifest):
    path, n = nation_manifest
    before = _rows(read_table(spark, path))
    m_before = read_manifest(path)
    bad = n.withColumn("n_name", F.lit(None).cast("string"))
    cand = begin_publish(spark, path, bad, ["n_regionkey"])
    # the audit catches the defect
    nulls = read_candidate(spark, path, cand).filter(
        F.col("n_name").isNull()
    ).count()
    assert nulls > 0
    out = abort_publish(path, cand)
    assert out["files_removed"] == len(cand["new_files"])
    assert read_manifest(path) == m_before
    assert _rows(read_table(spark, path)) == before
    # no candidate files linger on disk
    on_disk = {
        str(p.relative_to(path))
        for p in Path(path).rglob("*.parquet")
        if p.is_file()
    }
    assert on_disk == set(m_before["files"])


def test_commit_conflict_after_intervening_write(spark, nation_manifest):
    path, n = nation_manifest
    cand = begin_publish(
        spark, path, n.withColumn("n_name", F.upper("n_name")), ["n_regionkey"]
    )
    append_rows(
        spark,
        path,
        n.withColumn("n_nationkey", F.col("n_nationkey") + 100),
        partition_by=["n_regionkey"],
    )
    with pytest.raises(ConcurrentLakeModificationError):
        commit_publish(path, cand)
    abort_publish(path, cand)
    # the intervening append survives; the aborted candidate is gone
    assert read_table(spark, path).count() == 2 * n.count()


def test_partial_partition_candidate_carries_rest(spark, nation_manifest):
    path, n = nation_manifest
    slice_ = n.filter(F.col("n_regionkey") == 2).withColumn(
        "n_name", F.upper("n_name")
    )
    cand = begin_publish(spark, path, slice_, ["n_regionkey"])
    audited = read_candidate(spark, path, cand)
    assert audited.count() == n.count()  # carried partitions intact
    commit_publish(path, cand)
    got = read_table(spark, path)
    assert got.filter(
        (F.col("n_regionkey") == 2) & (F.col("n_name") != F.upper("n_name"))
    ).count() == 0
    assert _rows(got.filter(F.col("n_regionkey") != 2)) == _rows(
        n.filter(F.col("n_regionkey") != 2)
    )


def test_candidate_respects_carried_tombstones(spark, nation_manifest):
    path, n = nation_manifest
    delete_rows_mor(spark, path, "n_nationkey < 5", count=False)
    slice_ = n.filter(F.col("n_regionkey") == 0).withColumn(
        "n_name", F.upper("n_name")
    )
    cand = begin_publish(spark, path, slice_, ["n_regionkey"])
    audited = read_candidate(spark, path, cand)
    # carried partitions keep the tombstone; the replaced partition's
    # NEW files are clean (its short keys return via the rewrite)
    assert (
        audited.filter(
            (F.col("n_regionkey") != 0) & (F.col("n_nationkey") < 5)
        ).count()
        == 0
    )
    commit_publish(path, cand)
    assert _rows(read_table(spark, path)) == _rows(audited)


def test_vacuum_reclaims_abandoned_candidate_but_protects_fresh(
    spark, nation_manifest
):
    path, n = nation_manifest
    cand = begin_publish(
        spark, path, n.withColumn("n_name", F.upper("n_name")), ["n_regionkey"]
    )
    # a pending candidate is a branch: pinned however old it is
    old = time.time() - 7200
    for rel in cand["new_files"]:
        os.utime(Path(path, rel), (old, old))
    head = list_branches(path)[cand["candidate"]]["head"]
    out = vacuum_manifests(path, keep_last=1, min_age_seconds=3600)
    assert head in out["kept_versions"]
    for rel in cand["new_files"]:
        assert Path(path, rel).exists()
    # abort_publish unpins it; the next vacuum reclaims its snapshot
    out = abort_publish(path, cand)
    assert out["files_removed"] == len(cand["new_files"])
    out = vacuum_manifests(path, keep_last=1)
    assert head not in out["kept_versions"]
    assert not Path(path, "_manifests", f"v{head:010d}.json").exists()
    for rel in cand["new_files"]:
        assert not Path(path, rel).exists()
    # live table unaffected throughout
    assert read_table(spark, path).count() == n.count()


def test_begin_refuses_layout_mismatch(spark, nation_manifest):
    path, n = nation_manifest
    with pytest.raises(ValueError, match="layout"):
        begin_publish(spark, path, n, None)


def test_wap_on_never_written_path(spark, sf_dir, tmp_path):
    """The candidate forks from an empty v1 committed with the batch's
    layout and schema; main reads empty until the publish."""
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = str(tmp_path / "fresh")
    cand = begin_publish(spark, path, n, ["n_regionkey"])
    v1 = read_manifest(path)
    assert (v1["version"], v1["files"], v1["partition_by"]) == (
        1, [], ["n_regionkey"]
    )
    assert cand["base_version"] == 1
    assert read_table(spark, path).count() == 0
    assert _rows(read_candidate(spark, path, cand)) == _rows(n)
    commit_publish(path, cand)
    assert _rows(read_table(spark, path)) == _rows(n)
    assert not list_branches(path)
    assert verify_table(path)["ok"]


def test_erasure_drops_pending_candidate(spark, nation_manifest):
    """An erasure drops every branch, a pending candidate included: the
    candidate, staged from data before the erasure, cannot outlive it."""
    path, n = nation_manifest
    cand = begin_publish(
        spark, path, n.withColumn("n_name", F.upper("n_name")), ["n_regionkey"]
    )
    delete_rows(spark, path, "n_nationkey = 0", partition_col="n_regionkey")
    assert cand["candidate"] not in list_branches(path)
    for rel in cand["new_files"]:
        assert not Path(path, rel).exists()
    with pytest.raises(KeyError, match="no branch"):
        commit_publish(path, cand)
    got = read_table(spark, path)
    assert got.filter(F.col("n_nationkey") == 0).count() == 0
    assert _rows(got) == _rows(n.filter(F.col("n_nationkey") != 0))
