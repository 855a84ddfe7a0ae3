"""Column RENAME without rewrite (round-8): the Delta column-mapping
model on plain Parquet. Files carry frozen physical names; a rename is
one metadata commit; reads alias physical->logical at the scan, writes
alias logical->physical at staging; compact_in_place migrates files to
the logical names and heals the mapping."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    append_rows,
    compact_in_place,
    count_rows,
    merge_into,
    publish_overwrite,
    read_manifest,
    read_table,
    rename_column,
    rollback_table,
    table_changes,
)


def _seed(spark):
    return spark.createDataFrame(
        [(i, f"t{i}", ["en", "de"][i % 2], i * 10) for i in range(10)],
        "doc_id long, text string, lang string, n_chars long",
    )


@pytest.fixture()
def renamed(spark, tmp_path):
    path = str(tmp_path / "docs")
    publish_overwrite(spark, path, _seed(spark), ["lang"])
    rename_column(path, "n_chars", "char_count")
    return path


def test_rename_is_metadata_only_and_values_survive(spark, renamed):
    m = read_manifest(renamed)
    assert m["column_mapping"] == {"char_count": "n_chars"}
    assert m["files"] == read_manifest(renamed, 1)["files"]  # zero data moved
    df = read_table(spark, renamed)
    assert "char_count" in df.columns and "n_chars" not in df.columns
    assert df.agg(F.sum("char_count")).first()[0] == sum(
        i * 10 for i in range(10)
    )
    # time travel shows each era's own names
    assert "n_chars" in read_table(spark, renamed, version=1).columns


def test_writes_after_rename_stay_physically_consistent(spark, renamed):
    import pyarrow.parquet as pq

    before = set(read_manifest(renamed)["files"])
    batch = spark.createDataFrame(
        [(100, "x", "fr", 5)],
        "doc_id long, text string, lang string, char_count long",
    )
    append_rows(spark, renamed, batch, ["lang"])
    m = read_manifest(renamed)
    newf = next(f for f in m["files"] if f not in before)
    # the appended file carries the FROZEN physical name
    assert "n_chars" in pq.ParquetFile(
        os.path.join(renamed, newf)
    ).schema_arrow.names
    assert read_table(spark, renamed).count() == 11
    # merges arrive logical too, and rewrites keep the mapping
    merge_into(
        spark,
        renamed,
        spark.createDataFrame([(0, "y", "en", 999)], batch.schema),
        ["doc_id"],
        ["lang"],
        collect_stats=False,
    )
    got = read_table(spark, renamed)
    assert got.filter("doc_id = 0").first().char_count == 999
    assert got.count() == 11
    assert count_rows(renamed)["rows"] == 11


def test_prune_keys_translate_through_the_mapping(spark, renamed):
    # manifest file_stats key on the physical name; a logical prune
    # still skips files
    m = read_manifest(renamed)
    assert any("n_chars" in s for s in m["file_stats"].values())
    df = read_table(spark, renamed, prune={"char_count": (0, 5)})
    plan_files = df.inputFiles()
    assert len(plan_files) < len(m["files"])
    assert df.filter("char_count <= 5").count() == 1  # doc 0


def test_compact_migrates_physical_names_and_heals(spark, renamed):
    import pyarrow.parquet as pq

    compact_in_place(spark, renamed, ["lang"])
    m = read_manifest(renamed)
    assert "column_mapping" not in m
    for f in m["files"]:
        assert "char_count" in pq.ParquetFile(
            os.path.join(renamed, f)
        ).schema_arrow.names
    # pre-compaction history still reads with its own era's mapping
    assert "char_count" in read_table(spark, renamed, version=2).columns
    # rename back and forth heals without a rewrite
    rename_column(renamed, "char_count", "tmp_name")
    rename_column(renamed, "tmp_name", "char_count")
    assert "column_mapping" not in read_manifest(renamed)


def test_rename_refusals_fail_closed(spark, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        add_constraint,
        drop_constraint,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        delete_rows_mor,
        purge_deleted_rows,
    )

    path = str(tmp_path / "t")
    publish_overwrite(spark, path, _seed(spark), ["lang"])
    with pytest.raises(ValueError, match="no column"):
        rename_column(path, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(path, "n_chars", "text")
    with pytest.raises(ValueError, match="partition column"):
        rename_column(path, "lang", "language")
    add_constraint(spark, path, "pos", "n_chars >= 0")
    with pytest.raises(ValueError, match="constraint"):
        rename_column(path, "n_chars", "char_count")
    drop_constraint(path, "pos")
    delete_rows_mor(spark, path, "doc_id = 0")
    with pytest.raises(ValueError, match="tombstone"):
        rename_column(path, "n_chars", "char_count")
    purge_deleted_rows(spark, path)
    rename_column(path, "n_chars", "char_count")  # now clean


def test_changes_fail_closed_and_source_translates_across_rename(
    spark, renamed
):
    batch = spark.createDataFrame(
        [(100, "x", "fr", 5)],
        "doc_id long, text string, lang string, char_count long",
    )
    append_rows(spark, renamed, batch, ["lang"])
    # within the renamed era: fine (v2 rename commit -> v3 append)
    ch = table_changes(spark, renamed, 2, 3)
    assert ch.count() == 1 and "char_count" in ch.columns
    # across the boundary: loud refusal, never mis-aligned columns
    with pytest.raises(ValueError, match="rename_column boundary"):
        table_changes(spark, renamed, 1, 3)
    # the data source translates logical -> frozen physical per file:
    # pre-rename files and post-rename appends both materialize under
    # the declared CURRENT names with real values, never NULL-fill
    from pyspark.sql import types as T

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        LakeManifestDataSource,
    )

    spark.dataSource.register(LakeManifestDataSource)
    cur_schema = T.StructType.fromJson(read_manifest(renamed)["schema"])
    got = (
        spark.read.format("lake_manifest")
        .schema(cur_schema)
        .load(renamed)
        .collect()
    )
    vals = {r.doc_id: r.char_count for r in got}
    assert vals == {**{i: i * 10 for i in range(10)}, 100: 5}


def test_stream_refuses_mid_stream_rename(spark, renamed, tmp_path):
    """A rename committing between stream offsets changes the reader's
    fixed logical->physical map — the same loud-refusal contract as a
    rewrite; a fresh stream picks up the new names."""
    from pyspark.sql import types as T

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        LakeManifestDataSource,
    )

    spark.dataSource.register(LakeManifestDataSource)
    cur_schema = T.StructType.fromJson(read_manifest(renamed)["schema"])
    out = str(tmp_path / "out")

    def run():
        (
            spark.readStream.format("lake_manifest")
            .schema(cur_schema)
            .load(renamed)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run()  # consumes the mapped table fine
    got = spark.read.schema(cur_schema).parquet(out)
    assert got.count() == 10
    assert {r.doc_id: r.char_count for r in got.collect()} == {
        i: i * 10 for i in range(10)
    }
    rename_column(renamed, "char_count", "chars2")  # map changes
    batch = spark.createDataFrame(
        [(101, "y", "fr", 9)],
        "doc_id long, text string, lang string, chars2 long",
    )
    append_rows(spark, renamed, batch, ["lang"])
    with pytest.raises(Exception, match="not on the"):
        run()  # restarted reader: its declared schema predates the rename


def test_rollback_across_rename_restores_each_eras_names(spark, renamed):
    rollback_table(renamed, 1)
    m = read_manifest(renamed)
    assert "column_mapping" not in m
    assert "n_chars" in read_table(spark, renamed).columns
    # roll forward again: the renamed era comes back mapping and all
    rollback_table(renamed, 2)
    assert read_manifest(renamed)["column_mapping"] == {
        "char_count": "n_chars"
    }
    assert "char_count" in read_table(spark, renamed).columns


def test_evolving_to_a_renamed_column_fails_closed(spark, renamed):
    """Layout change onto a mapped column would partitionBy a logical
    name the physical files don't carry — refused until compaction
    migrates the names; afterwards the evolution proceeds."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        evolve_partitioning,
    )

    with pytest.raises(ValueError, match="renamed"):
        evolve_partitioning(renamed, ["char_count"])
    compact_in_place(spark, renamed, ["lang"])
    m = evolve_partitioning(renamed, ["char_count"])
    assert m["partition_by"] == ["char_count"]
    batch = spark.createDataFrame(
        [(200, "z", "fr", 7)],
        "doc_id long, text string, lang string, char_count long",
    )
    append_rows(spark, renamed, batch, ["char_count"])
    df = read_table(spark, renamed)
    assert df.count() == 11
    assert df.filter("char_count = 7").first().doc_id == 200


def test_purge_on_renamed_table_stages_physical_names(spark, renamed):
    """Review fix: purge_deleted_rows rewrites covered files — those
    files must carry the frozen PHYSICAL names like every other write
    path, or the carried mapping NULL-fills the column afterwards."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        delete_rows_mor,
        purge_deleted_rows,
    )

    delete_rows_mor(spark, renamed, "doc_id = 2")
    purge_deleted_rows(spark, renamed)
    df = read_table(spark, renamed)
    assert df.count() == 9
    vals = {r.doc_id: r.char_count for r in df.collect()}
    assert vals == {i: i * 10 for i in range(10) if i != 2}
    assert not any(v is None for v in vals.values())


def test_historical_read_with_declared_schema_across_rename(spark, renamed):
    """Review fix: the governed AS OF path declares the CURRENT logical
    schema against historical snapshots — a pre-rename snapshot must
    materialize under the current names (physical identity is frozen),
    never NULL-fill."""
    from pyspark.sql import types as T

    cur_schema = T.StructType.fromJson(read_manifest(renamed)["schema"])
    old = read_table(spark, renamed, schema=cur_schema, version=1)
    assert "char_count" in old.columns
    vals = {r.doc_id: r.char_count for r in old.collect()}
    assert vals == {i: i * 10 for i in range(10)}  # values, not NULLs


def test_governed_tag_as_of_across_rename(spark, renamed, tmp_path):
    """End to end: tag before rename, governed-style declared read of
    the tag afterwards — the training corpus stays readable under the
    migrated names with a migrated row predicate still filtering."""
    from pyspark.sql import types as T

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        tag_snapshot,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        list_tags,
    )

    tag_snapshot(renamed, "seed", version=1)  # pre-rename snapshot
    cur_schema = T.StructType.fromJson(read_manifest(renamed)["schema"])
    df = read_table(spark, renamed, schema=cur_schema, tag="seed")
    kept = df.filter("char_count <= 50")  # the migrated predicate shape
    assert kept.count() == 6
    assert list_tags(renamed)["seed"] == 1


def test_rollback_to_pre_evolution_after_heal_and_reevolve(spark, tmp_path):
    """Review fix: a restore must never depend on the CURRENT spec
    table containing the target's layout — heal + re-evolve in between
    and roll all the way back."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        evolve_partitioning,
    )

    path = str(tmp_path / "t")
    publish_overwrite(spark, path, _seed(spark), ["lang"])
    evolve_partitioning(path, ["doc_id"])          # v2
    compact_in_place(spark, path, ["doc_id"])      # v3: heals
    evolve_partitioning(path, ["n_chars"])         # v4: fresh specs
    rollback_table(path, 1)                        # lang era, long gone
    m = read_manifest(path)
    assert m["partition_by"] == ["lang"] and "partition_specs" not in m
    assert read_table(spark, path).count() == 10


def test_filter_rewrite_is_literal_safe(spark, tmp_path):
    """Review fix: the old column name inside a string VALUE of a row
    predicate must survive a rename untouched."""
    from tf_aws_lakeformation_governed_datalake_demo_spark import (
        Engine,
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        DataCellsFilter,
    )

    path = str(tmp_path / "t")
    d = spark.createDataFrame(
        [(1, "n_chars", "en", 5), (2, "other", "en", 6)],
        "doc_id long, text string, lang string, n_chars long",
    )
    publish_overwrite(spark, path, d, ["lang"])
    cat = GovernedCatalog(spark)
    cat.create_database("db")
    cat.register_table(
        TableDef("db", "t", path, schema=d.schema, partition_keys=("lang",))
    )
    cat.create_data_cells_filter(
        DataCellsFilter(
            name="lit",
            database="db",
            table="t",
            columns=None,
            row_filter="text = 'n_chars' OR n_chars > 5",
        )
    )
    cat.rename_column("db.t", "n_chars", "char_count")
    flt = cat.filters["lit"]
    assert flt.row_filter == "text = 'n_chars' OR char_count > 5"


def test_rename_migrates_filter_columns_case_insensitively(spark, tmp_path):
    """A data-cells filter allowlist naming "N_CHARS" covers column
    n_chars, so the rename migrates it; left behind, it would name a
    column the table no longer has."""
    from tf_aws_lakeformation_governed_datalake_demo_spark import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        DataCellsFilter,
    )

    path = str(tmp_path / "t")
    publish_overwrite(spark, path, _seed(spark), ["lang"])
    cat = GovernedCatalog(spark)
    cat.create_database("db")
    cat.register_table(
        TableDef(
            "db", "t", path, schema=_seed(spark).schema,
            partition_keys=("lang",),
        )
    )
    cat.create_data_cells_filter(
        DataCellsFilter("f", "db", "t", columns=("DOC_ID", "N_CHARS"))
    )
    cat.rename_column("db.t", "n_chars", "char_count")
    assert cat.filters["f"].columns == ("DOC_ID", "char_count")


def test_wap_audit_fails_loudly_on_rename_race(spark, tmp_path):
    """A rename committed between begin_publish and promotion: the
    audit read still returns the staged values under the branch's own
    mapping (no NULL-fill), and commit_publish refuses — main moved
    since the candidate forked."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        begin_publish,
        commit_publish,
        read_candidate,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        ConcurrentLakeModificationError,
    )

    path = str(tmp_path / "t")
    publish_overwrite(spark, path, _seed(spark), ["lang"])
    cand = begin_publish(
        spark,
        path,
        _seed(spark).filter("lang = 'en'").withColumn("n_chars", F.lit(0)),
        ["lang"],
    )
    rename_column(path, "n_chars", "char_count")
    audited = read_candidate(spark, path, cand).filter("lang = 'en'")
    assert [r.n_chars for r in audited.collect()] == [0] * 5
    with pytest.raises(ConcurrentLakeModificationError):
        commit_publish(path, cand)
