"""Round-9 advisory regressions (ADVICE.md, round 8): four lake-commit
hazards around concurrent layout evolution, unaudited WAP candidates,
tag-pinned retention, and candidate grace under routine vacuum."""

from __future__ import annotations

import contextlib
import json
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake as lk
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    ConcurrentLakeModificationError,
    abort_publish,
    append_rows,
    begin_publish,
    commit_publish,
    evolve_partitioning,
    publish_overwrite,
    read_manifest,
    read_table,
    tag_snapshot,
    vacuum_manifests,
    verify_table,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, grp string, v string")


def test_append_refuses_concurrent_partition_evolution(spark, tmp_path):
    """A layout evolution committing while an append is staging must
    fail the append, not silently revert the table's default spec
    (the retired spec is still resolvable, so the commit would have
    succeeded without the under-lock guard)."""
    path = str(tmp_path / "t")
    publish_overwrite(
        spark, path, _mk(spark, [(1, "a", "x"), (2, "b", "y")]),
        ["grp"],
    )

    real_lock = lk.publish_lock
    state = {"armed": False, "fired": False}

    @contextlib.contextmanager
    def racing_lock(live):
        # first lock acquisition after arming = the append's commit
        # section; sneak a layout evolution in just before it
        if state["armed"] and not state["fired"]:
            state["fired"] = True
            lk.publish_lock = real_lock
            try:
                evolve_partitioning(path, [])
            finally:
                lk.publish_lock = racing_lock
        with real_lock(live):
            yield

    lk.publish_lock = racing_lock
    try:
        state["armed"] = True
        with pytest.raises(ConcurrentLakeModificationError, match="layout"):
            append_rows(
                spark, path, _mk(spark, [(3, "c", "z")]), ["grp"]
            )
    finally:
        lk.publish_lock = real_lock
    assert state["fired"]
    # the evolution's commit is the table's state; the append left no rows
    m = read_manifest(path)
    assert m["partition_by"] == []
    assert read_table(spark, path).count() == 2


def test_first_publish_does_not_adopt_wap_candidate(spark, tmp_path):
    """begin_publish on an unmanifested path stages real files in the
    live tree; a concurrent FIRST partitioned publish must not adopt
    those never-audited files into its committed snapshot."""
    path = str(tmp_path / "t")
    cand = begin_publish(
        spark, path,
        _mk(spark, [(1, "a", "cand"), (2, "b", "cand")]),
        ["grp"],
    )
    # main holds only the empty v1 the candidate forked from
    assert read_manifest(path)["files"] == []
    # first committed publish covers only partition 'a' — pre-fix, the
    # candidate's 'b' files would ride in as carried "pre-existing data"
    publish_overwrite(
        spark, path, _mk(spark, [(9, "a", "real")]), ["grp"]
    )
    m = read_manifest(path)
    assert not set(m["files"]) & set(cand["new_files"])
    got = {(r.id, r.v) for r in read_table(spark, path).collect()}
    assert got == {(9, "real")}
    # the stale candidate can no longer promote (base moved), only abort
    with pytest.raises(ConcurrentLakeModificationError):
        commit_publish(path, cand)
    abort_publish(path, cand)
    for rel in cand["new_files"]:
        assert not Path(path, rel).exists()


def test_verify_table_counts_tag_pinned_snapshots(spark, tmp_path):
    """verify_table must use vacuum's retention definition: a
    tag-pinned snapshot whose parent-chain manifests were vacuumed is
    still retained, so its files are neither orphans nor skipped by
    the audit."""
    path = str(tmp_path / "t")
    publish_overwrite(
        spark, path, _mk(spark, [(1, "a", "v1")]), ["grp"]
    )
    tag_snapshot(path, "train-corpus")  # pins v1
    publish_overwrite(spark, path, _mk(spark, [(1, "a", "v2")]), ["grp"])
    publish_overwrite(spark, path, _mk(spark, [(1, "a", "v3")]), ["grp"])
    out = vacuum_manifests(path, keep_last=1)
    assert set(out["kept_versions"]) == {1, 3}
    rep = verify_table(path, deep=True)
    assert rep["ok"]
    assert 1 in rep["snapshots_checked"]
    v1_files = set(read_manifest(path, 1)["files"])
    assert not v1_files & set(rep["orphans"])
    # and the audit actually stat-checked them
    assert rep["files_checked"] >= len(
        v1_files | set(read_manifest(path)["files"])
    )


def test_vacuum_default_grace_protects_fresh_candidate(spark, tmp_path):
    """Routine retention (no min_age) must not destroy a mid-audit WAP
    candidate: the candidate is a branch, and its pin protects it."""
    path = str(tmp_path / "t")
    publish_overwrite(
        spark, path, _mk(spark, [(1, "a", "v1")]), ["grp"]
    )
    cand = begin_publish(
        spark, path, _mk(spark, [(1, "a", "v2")]), ["grp"]
    )
    # the round-8 hazard: min_age_seconds defaults to 0 -> cutoff=now,
    # which used to reclaim the candidate's files immediately
    vacuum_manifests(path, keep_last=1)
    for rel in cand["new_files"]:
        assert Path(path, rel).exists()
    # the audit sees the candidate's files as referenced, not as debris
    rep = verify_table(path)
    assert rep["ok"]
    assert not set(cand["new_files"]) & set(rep["orphans"])
    assert read_table(spark, path).count() == 1
    commit_publish(path, cand)
    assert [r.v for r in read_table(spark, path).collect()] == ["v2"]
