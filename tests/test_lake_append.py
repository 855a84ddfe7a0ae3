"""Transactional streaming append (round-8 S25): append_rows manifest
commits + the (stream_id, batch_id) app_versions ledger that turns
Structured Streaming's at-least-once foreachBatch delivery into
exactly-once table state — Delta's streaming-sink `txn` protocol on
plain Parquet. The reference's analog is S3's atomic PUT per ingested
object + consistent listing (main.tf:25-30)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark.operators.streaming_ops import (
    cdc_land_change_files,
    stream_lake_append,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    append_rows,
    merge_into,
    read_manifest,
    read_table,
    verify_table,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, grp string, v string")


def test_append_commits_versions_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    s1 = append_rows(spark, path, _mk(spark, [(1, "a", "x")]), ["grp"])
    assert s1["version"] == 1 and s1["parent"] is None
    s2 = append_rows(spark, path, _mk(spark, [(2, "b", "y")]), ["grp"])
    assert s2["version"] == 2 and set(s2["files"]) > set(s1["files"])
    assert {r.id for r in read_table(spark, path).collect()} == {1, 2}
    # each batch is a version: v1 sees only the first batch
    assert {r.id for r in read_table(spark, path, version=1).collect()} == {1}


def test_append_replay_is_skipped_and_ledger_survives_merge(spark, tmp_path):
    path = str(tmp_path / "t")
    assert (
        append_rows(
            spark, path, _mk(spark, [(1, "a", "x")]), ["grp"],
            stream_id="s", batch_id=0,
        )["app_versions"]
        == {"s": 0}
    )
    # replay of batch 0: no commit, no new version, no duplicate rows
    assert (
        append_rows(
            spark, path, _mk(spark, [(1, "a", "x")]), ["grp"],
            stream_id="s", batch_id=0,
        )
        is None
    )
    assert read_manifest(path)["version"] == 1
    assert read_table(spark, path).count() == 1
    # a non-append commit between batches must CARRY the ledger — else
    # the next restart would double-append replayed batches
    merge_into(
        spark, path, _mk(spark, [(1, "a", "x2")]), ["id"],
        partition_by=["grp"], collect_stats=False,
    )
    assert read_manifest(path)["app_versions"] == {"s": 0}
    assert (
        append_rows(
            spark, path, _mk(spark, [(1, "a", "dup")]), ["grp"],
            stream_id="s", batch_id=0,
        )
        is None
    ), "ledger lost across an intervening merge"
    # the next batch still lands
    assert (
        append_rows(
            spark, path, _mk(spark, [(2, "b", "y")]), ["grp"],
            stream_id="s", batch_id=1,
        )["app_versions"]
        == {"s": 1}
    )


def test_empty_batch_advances_high_water_mark(spark, tmp_path):
    path = str(tmp_path / "t")
    append_rows(
        spark, path, _mk(spark, [(1, "a", "x")]), ["grp"],
        stream_id="s", batch_id=0,
    )
    empty = _mk(spark, []).filter(F.lit(False))
    snap = append_rows(
        spark, path, empty, ["grp"], stream_id="s", batch_id=1
    )
    assert snap is not None and snap["app_versions"] == {"s": 1}
    # the replayed empty batch is now a no-op too
    assert (
        append_rows(spark, path, empty, ["grp"], stream_id="s", batch_id=1)
        is None
    )
    assert read_table(spark, path).count() == 1


def test_zero_row_part_files_are_never_committed(spark, tmp_path):
    """A 1-row frame spread over several Spark partitions writes an
    empty part file beside the full one; the commit leaves it out, and
    a zero-row write commits no file while its schema still reads."""
    path = str(tmp_path / "t")
    for i in (1, 2):
        append_rows(spark, path, _mk(spark, [(i, "a", "x")]).repartition(4))
    m = read_manifest(path)
    assert len(m["files"]) == 2
    assert sorted(m["file_rows"].values()) == [1, 1]
    assert sorted(r.id for r in read_table(spark, path).collect()) == [1, 2]
    report = verify_table(path)
    assert report["ok"] and not report["orphans"]
    empty_path = str(tmp_path / "e")
    snap = append_rows(spark, empty_path, _mk(spark, []))
    assert snap["files"] == [] and verify_table(empty_path)["ok"]
    empty = read_table(spark, empty_path)
    assert empty.columns == ["id", "grp", "v"] and empty.count() == 0


def test_append_refuses_layout_drift_and_unmanifested_data(spark, tmp_path):
    path = str(tmp_path / "t")
    append_rows(spark, path, _mk(spark, [(1, "a", "x")]), ["grp"])
    with pytest.raises(ValueError, match="partition_by"):
        append_rows(spark, path, _mk(spark, [(2, "b", "y")]), None)
    with pytest.raises(ValueError, match="must be given together"):
        append_rows(
            spark, path, _mk(spark, [(2, "b", "y")]), ["grp"], stream_id="s"
        )
    # schema drift fails fast (merge_into's typo'd-column contract):
    # an extra, missing, or retyped column must not land mixed-schema
    # files into the chain
    drifted = spark.createDataFrame(
        [(2, "b", "y")], "id long, grp string, vv string"
    )
    with pytest.raises(ValueError, match="extra=\\['vv'\\]"):
        append_rows(spark, path, drifted, ["grp"])
    retyped = spark.createDataFrame(
        [(2, "b", 3)], "id long, grp string, v long"
    )
    with pytest.raises(ValueError, match="retyped=\\['v'\\]"):
        append_rows(spark, path, retyped, ["grp"])
    # a plain directory is adopted as v1, then appended to
    bare = str(tmp_path / "bare")
    _mk(spark, [(1, "a", "x")]).write.parquet(bare)
    snap = append_rows(spark, bare, _mk(spark, [(2, "b", "y")]))
    assert snap["version"] == 2
    assert sorted(r.id for r in read_table(spark, bare).collect()) == [1, 2]


def test_stream_restart_with_lost_checkpoint_appends_nothing(spark, tmp_path):
    """The failure the ledger exists for: the sink committed but the
    checkpoint is gone (crash before advance / operator wiped it), so
    the restarted stream re-delivers EVERY batch. Each replayed epoch
    id is at or below the ledger's high-water mark -> zero commits,
    zero duplicate rows."""
    rows = [(i, "g%d" % (i % 3), "v%d" % i) for i in range(30)]
    src_df = _mk(spark, rows).withColumn("event_id", F.col("id"))
    base = str(tmp_path)
    src = f"{base}/incoming"
    path = f"{base}/facts"
    cdc_land_change_files(src_df, src, base, n=3)

    for attempt in range(2):  # run 2 = full replay off a fresh checkpoint
        stream_lake_append(
            spark, src, src_df.schema, path,
            partition_by=["grp"], stream_id="s",
            checkpoint=f"{base}/ckpt{attempt}",
        )
    snap = read_manifest(path)
    assert snap["version"] == 3, "replayed batches committed new versions"
    assert snap["app_versions"] == {"s": 2}
    got = read_table(spark, path)
    assert got.count() == 30
    assert got.select("id").distinct().count() == 30
