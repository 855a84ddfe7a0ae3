"""Partition-spec evolution (round-8): change a manifest table's
partition layout without rewriting data — Iceberg's spec evolution on
plain Parquet. Old files keep the spec they were written under
(``partition_specs`` / ``file_spec`` in the snapshot), reads scan one
relation per spec and union, appends land under the new spec
immediately, partial rewrites are refused (fail-closed against
silently-duplicated rows), and compact_in_place is the migration that
heals the table back to a single spec."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    append_rows,
    begin_publish,
    compact_in_place,
    evolve_partitioning,
    merge_into,
    publish_overwrite,
    read_manifest,
    read_table,
    rollback_table,
    table_changes,
)


def _seed(spark):
    return spark.createDataFrame(
        [
            (i, f"t{i}", ["en", "de"][i % 2], ["web", "book"][i % 3 == 0], i)
            for i in range(20)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def _batch(spark):
    return spark.createDataFrame(
        [(100 + i, f"n{i}", "fr", "web", i) for i in range(5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


@pytest.fixture()
def evolved(spark, tmp_path):
    """lang-partitioned seed -> evolve to source -> append under the
    new spec: the canonical mixed-layout table."""
    path = str(tmp_path / "docs")
    publish_overwrite(spark, path, _seed(spark), ["lang"])
    evolve_partitioning(path, ["source"])
    append_rows(spark, path, _batch(spark), ["source"])
    return path


def test_evolution_is_metadata_only_and_reads_union_specs(
    spark, evolved, tmp_path
):
    m = read_manifest(evolved)
    assert m["partition_by"] == ["source"]
    assert m["partition_specs"] == {"0": ["lang"], "1": ["source"]}
    assert m["default_spec"] == "1"
    # every pre-evolution file is recorded under the retired spec and
    # physically untouched (metadata-only: same relpaths as v1)
    v1 = read_manifest(evolved, 1)
    for f in v1["files"]:
        assert m["file_spec"][f] == "0"
    got = {
        (r.doc_id, r.lang, r.source)
        for r in read_table(spark, evolved).collect()
    }
    want = {
        (r.doc_id, r.lang, r.source)
        for r in _seed(spark).unionByName(_batch(spark)).collect()
    }
    assert got == want
    # a column that is a directory in one spec and data in the other
    # filters correctly across both groups
    df = read_table(spark, evolved)
    assert df.filter("lang = 'fr'").count() == 5
    assert df.filter("lang = 'en'").count() == 10
    assert df.filter("source = 'web'").count() == 18


def test_time_travel_and_changes_across_evolution(spark, evolved):
    # v1 pre-evolution reads with the old layout
    assert read_table(spark, evolved, version=1).count() == 20
    # v2 is the evolution commit: same rows, zero data movement
    assert read_table(spark, evolved, version=2).count() == 20
    # the change feed across the evolution boundary is the append only
    ch = table_changes(spark, evolved, 1, 3)
    rows = ch.groupBy("_change_type").count().collect()
    assert {(r["_change_type"], r["count"]) for r in rows} == {("insert", 5)}


def test_old_spec_group_still_partition_prunes(spark, evolved):
    """Spark's own planning-time partition pruning applies per
    spec-group: a lang filter prunes lang= directories in the retired
    spec's relation."""
    df = read_table(spark, evolved).filter("lang = 'de'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert plan.count("lang#") >= 1
    assert df.count() == 10


def test_partial_rewrites_fail_closed_until_compacted(spark, evolved):
    one = spark.createDataFrame(
        [(0, "x", "en", "book", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with pytest.raises(ValueError, match="partition-evolved"):
        merge_into(spark, evolved, one, ["doc_id"], ["source"])
    with pytest.raises(ValueError, match="partition-evolved"):
        begin_publish(spark, evolved, one, ["source"])
    # appending with the retired spec is a layout mismatch
    with pytest.raises(ValueError, match="does not match"):
        append_rows(spark, evolved, one, ["lang"])
    # the refusals left the table untouched
    assert read_table(spark, evolved).count() == 25


def test_compact_migrates_and_heals_to_single_spec(spark, evolved):
    before, after = compact_in_place(spark, evolved, ["source"])
    m = read_manifest(evolved)
    assert "partition_specs" not in m and "file_spec" not in m
    assert m["partition_by"] == ["source"]
    df = read_table(spark, evolved)
    assert df.count() == 25
    assert df.filter("lang = 'fr'").count() == 5
    # mutators work again post-migration (update stays in its partition:
    # merge's documented invariant is that keys never move partitions)
    upd = spark.createDataFrame(
        [(0, "x", "en", "book", 999)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    merge_into(spark, evolved, upd, ["doc_id"], ["source"])
    got = read_table(spark, evolved)
    assert got.count() == 25
    assert got.filter("doc_id = 0").first().n_chars == 999
    # pre-compaction history still readable under its mixed layout
    assert read_table(spark, evolved, version=3).count() == 25


def test_rollback_across_evolution_restores_spec_bookkeeping(
    spark, evolved
):
    # back to the evolved-but-not-yet-appended state: old-spec files
    # only, default already the new spec -> spec table still needed
    rollback_table(evolved, 2)
    m = read_manifest(evolved)
    assert m["partition_by"] == ["source"]
    assert set(m["file_spec"].values()) == {"0"}
    assert read_table(spark, evolved).count() == 20
    # back to pre-evolution v1: bookkeeping heals away entirely
    rollback_table(evolved, 1)
    m = read_manifest(evolved)
    assert m["partition_by"] == ["lang"]
    assert "partition_specs" not in m
    assert read_table(spark, evolved).count() == 20


def test_evolving_an_empty_or_same_layout_is_cheap(spark, tmp_path):
    path = str(tmp_path / "t")
    empty = _seed(spark).limit(0)
    publish_overwrite(spark, path, empty, ["lang"])
    m = evolve_partitioning(path, ["source"])
    # no files to track -> heals immediately to a plain layout change
    assert "partition_specs" not in m and m["partition_by"] == ["source"]
    # no-op evolution returns the current snapshot without committing
    v = read_manifest(path)["version"]
    same = evolve_partitioning(path, ["source"])
    assert same["version"] == v


def test_evolution_refusals(spark, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="holds no data"):
        evolve_partitioning(path, ["lang"])
    publish_overwrite(spark, path, _seed(spark), ["lang"])
    with pytest.raises(ValueError, match="not on the"):
        evolve_partitioning(path, ["nope"])
    # a direct publish cannot change layouts around the evolution API
    with pytest.raises(ValueError, match="evolve_partitioning"):
        publish_overwrite(spark, path, _seed(spark), ["source"])
