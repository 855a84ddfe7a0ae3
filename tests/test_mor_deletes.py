"""Merge-on-read deletes (delete_rows_mor / purge_deleted_rows).

The tombstone contract: a DELETE is one metadata-only manifest commit
({"pred", "scope"}); every read path suppresses matching rows in files
with file_added <= scope; files committed later are never affected;
purge rewrites only covered files and clears the tombstones with
byte-equal read results. Reference analog: the lake's mutation story is
S3 object replacement (main.tf:25-30) — merge-on-read is the deferred-
rewrite half this engine adds on top of eager delete_rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    ConcurrentLakeModificationError,
    append_rows,
    delete_rows_mor,
    load,
    merge_into,
    publish_overwrite,
    purge_deleted_rows,
    read_manifest,
    read_table,
    table_changes,
    vacuum_manifests,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
    rollback_table,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def docs_table(spark, sf_dir, tmp_path):
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = str(tmp_path / "docs")
    publish_overwrite(spark, path, d, ["lang"])
    return path, d


def test_mor_delete_is_metadata_only_and_hides_rows(spark, docs_table):
    path, d = docs_table
    before = read_manifest(path)
    stats = delete_rows_mor(spark, path, "n_chars < 200")
    after = read_manifest(path)
    # metadata-only: identical file list, one more snapshot, one tombstone
    assert after["files"] == before["files"]
    assert after["version"] == before["version"] + 1
    assert len(after["delete_predicates"]) == 1
    expect = d.filter(~(F.col("n_chars") < 200))
    got = read_table(spark, path)
    assert got.count() == expect.count() == d.count() - stats["rows_deleted"]
    assert _rows(got.groupBy("lang").count()) == _rows(
        expect.groupBy("lang").count()
    )


def test_mor_delete_three_valued_null_rows_kept(spark, docs_table):
    path, d = docs_table
    # predicate NULL on lang IS NULL rows?  documents.lang is non-null in
    # testdata, so build the 3VL case from a column expression instead:
    # nullif makes the predicate NULL for lang='en' rows.
    delete_rows_mor(spark, path, "nullif(lang, 'en') = 'de'", count=False)
    got = read_table(spark, path)
    # 'de' rows deleted, 'en' rows (NULL predicate) KEPT
    assert got.filter(F.col("lang") == "de").count() == 0
    assert got.filter(F.col("lang") == "en").count() == d.filter(
        F.col("lang") == "en"
    ).count()


def test_mor_scope_excludes_later_appends(spark, docs_table):
    path, d = docs_table
    delete_rows_mor(spark, path, "n_chars < 200", count=False)
    batch = d.filter(F.col("n_chars") < 150).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    n_batch = batch.count()
    assert n_batch > 0
    append_rows(spark, path, batch, partition_by=["lang"])
    got = read_table(spark, path)
    # appended rows MATCH the old predicate but were committed after it:
    # the sequence-number scope keeps every one of them visible
    assert got.filter(F.col("doc_id") >= 10_000_000).count() == n_batch
    # while the seed's matching rows stay hidden
    assert (
        got.filter((F.col("doc_id") < 10_000_000) & (F.col("n_chars") < 200))
        .count()
        == 0
    )


def test_mor_stacked_tombstones_and_time_travel(spark, docs_table):
    path, d = docs_table
    v1 = read_manifest(path)["version"]
    delete_rows_mor(spark, path, "n_chars < 200", count=False)
    v2 = read_manifest(path)["version"]
    delete_rows_mor(spark, path, "lang = 'fr'", count=False)
    expect = d.filter(~(F.col("n_chars") < 200)).filter(F.col("lang") != "fr")
    assert read_table(spark, path).count() == expect.count()
    # each retained snapshot replays with ITS tombstone set
    assert read_table(spark, path, version=v1).count() == d.count()
    assert (
        read_table(spark, path, version=v2).count()
        == d.filter(~(F.col("n_chars") < 200)).count()
    )


def test_mor_rollback_restores_visibility(spark, docs_table):
    path, d = docs_table
    v1 = read_manifest(path)["version"]
    delete_rows_mor(spark, path, "n_chars < 200", count=False)
    rollback_table(path, v1)
    assert read_table(spark, path).count() == d.count()
    assert not read_manifest(path).get("delete_predicates")


def test_mor_partition_rewrite_keeps_carried_tombstones(spark, docs_table):
    path, d = docs_table
    delete_rows_mor(spark, path, "n_chars < 200", count=False)
    # rewrite ONE partition via merge; other partitions' files are
    # carried and must stay under the tombstone
    upd = (
        d.filter((F.col("lang") == "en") & (F.col("n_chars") >= 200))
        .limit(5)
        .withColumn("n_chars", F.col("n_chars") + 1)
    )
    merge_into(
        spark,
        path,
        upd,
        ["doc_id"],
        partition_by=["lang"],
        schema=d.schema,
        collect_stats=False,
    )
    got = read_table(spark, path)
    # non-en partitions: tombstone still applies to their carried files
    assert (
        got.filter((F.col("lang") != "en") & (F.col("n_chars") < 200)).count()
        == 0
    )
    # the rewritten partition materialized the tombstone (merge read the
    # masked table), so its short rows are gone too
    assert got.filter(F.col("n_chars") < 200).count() == 0


def test_purge_rewrites_only_covered_files_byte_equal(spark, docs_table):
    path, d = docs_table
    delete_rows_mor(spark, path, "n_chars < 200", count=False)
    batch = d.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    append_rows(spark, path, batch, partition_by=["lang"])
    m = read_manifest(path)
    covered = {
        f
        for f in m["files"]
        if m["file_added"].get(f, 0) <= m["delete_predicates"][0]["scope"]
    }
    uncovered = set(m["files"]) - covered
    before = _rows(read_table(spark, path))
    stats = purge_deleted_rows(spark, path)
    assert stats["files_rewritten"] == len(covered)
    assert stats["tombstones_cleared"] == 1
    after_m = read_manifest(path)
    assert not after_m.get("delete_predicates")
    # uncovered (appended) files carried by name, never rewritten
    assert uncovered <= set(after_m["files"])
    assert covered.isdisjoint(set(after_m["files"]))
    assert _rows(read_table(spark, path)) == before


def test_purge_noop_without_tombstones(spark, docs_table):
    path, _ = docs_table
    assert purge_deleted_rows(spark, path)["files_rewritten"] == 0


def test_purge_unpartitioned_roundtrip(spark, sf_dir, tmp_path):
    n = load(spark, sf_dir, "nation")
    path = str(tmp_path / "nation")
    publish_overwrite(spark, path, n, None)
    delete_rows_mor(spark, path, "n_regionkey = 2", count=False)
    expect = _rows(n.filter(F.col("n_regionkey") != 2))
    assert _rows(read_table(spark, path)) == expect
    purge_deleted_rows(spark, path)
    assert _rows(read_table(spark, path)) == expect
    assert not read_manifest(path).get("delete_predicates")


def test_mor_cdf_emits_delete_rows(spark, docs_table):
    path, d = docs_table
    v1 = read_manifest(path)["version"]
    delete_rows_mor(spark, path, "n_chars < 200", count=False)
    v2 = read_manifest(path)["version"]
    feed = table_changes(spark, path, v1, v2)
    deletes = feed.filter(F.col("_change_type") == "delete")
    assert feed.filter(F.col("_change_type") == "insert").count() == 0
    assert _rows(deletes.select("doc_id")) == _rows(
        d.filter(F.col("n_chars") < 200).select("doc_id")
    )
    # purge then CDF across the purge: visibility unchanged -> empty feed
    purge_deleted_rows(spark, path)
    v3 = read_manifest(path)["version"]
    assert table_changes(spark, path, v2, v3).count() == 0
    # rollback feed: v2 -> v1 re-inserts the hidden rows
    back = table_changes(spark, path, v2, v1)
    assert back.filter(F.col("_change_type") == "delete").count() == 0
    assert back.count() == deletes.count()


def test_mor_concurrent_commit_conflict(spark, docs_table):
    path, d = docs_table
    m = read_manifest(path)
    # simulate a racing append landing between prepare and commit by
    # bumping the snapshot before a second (stale) delete commits
    import tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake as lake

    orig = lake.read_manifest
    calls = {"n": 0}

    def racy(p, version=None):
        out = orig(p, version)
        calls["n"] += 1
        if calls["n"] == 1:
            # first read (outside the lock) sees a DOCTORED older version
            out = dict(out)
            out["version"] = out["version"] - 1
        return out

    lake.read_manifest = racy
    try:
        with pytest.raises(ConcurrentLakeModificationError):
            delete_rows_mor(spark, path, "n_chars < 0", count=False)
    finally:
        lake.read_manifest = orig


def test_mor_erasure_path_is_purge_plus_vacuum(spark, docs_table, tmp_path):
    path, d = docs_table
    delete_rows_mor(spark, path, "n_chars < 200", count=False)
    purge_deleted_rows(spark, path)
    vacuum_manifests(path, keep_last=1)
    # the matched rows are now physically gone: no retained snapshot
    # can surface them
    m = read_manifest(path)
    assert len(m["files"]) == len(set(m["files"]))
    from pathlib import Path

    on_disk = {
        str(p.relative_to(path))
        for p in Path(path).rglob("*.parquet")
        if p.is_file()
    }
    assert on_disk == set(m["files"])
    assert read_table(spark, path).filter(F.col("n_chars") < 200).count() == 0


def test_mor_read_plan_has_no_join_or_exchange(spark, docs_table):
    path, _ = docs_table
    delete_rows_mor(spark, path, "n_chars < 200", count=False)
    plan = (
        read_table(spark, path)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert "Exchange" not in plan
