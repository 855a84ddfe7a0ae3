"""Zero-copy CLONE (round 12) — sources.lake.clone_table + the governed
statement surface.

The scale claim is structural: a clone of a 100 TB table is O(#files)
hardlink syscalls plus one manifest write that INHERITS the source
snapshot's recorded stats/rows/blooms — no byte copied, no footer read,
no scan planned. The safety claim is the hardlink upgrade over Delta's
path-referencing shallow clones: source VACUUM/erasure can never
corrupt a clone (unlink only drops a name), pinned here by erasing the
source entirely and reading the clone.
"""

from __future__ import annotations

import os
import shutil

import pytest

from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
    GovernedCatalog,
    TableDef,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.engine import Engine
from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
    PermissionDeniedError,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    append_rows,
    clone_table,
    delete_rows_mor,
    publish_overwrite,
    read_manifest,
    read_table,
    vacuum_manifests,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.statements import (
    CloneStatement,
    UnsupportedStatementError,
    parse_statement,
)


def test_parse_clone_forms():
    s = parse_statement(
        "CREATE TABLE db.c CLONE db.t WITH (external_location = '/x/y')"
    )
    assert isinstance(s, CloneStatement)
    assert (s.target, s.source, s.version, s.location) == (
        "db.c", "db.t", None, "/x/y",
    )
    s = parse_statement(
        "create table db.c clone db.t version as of 3 "
        "with (external_location = '/x/y')"
    )
    assert s.version == 3


@pytest.mark.parametrize(
    "bad",
    [
        "CREATE TABLE db.c CLONE db.t",  # location required
        "CREATE TABLE db.c CLONE db.t WITH (format = 'PARQUET')",
        "CREATE TABLE db.c CLONE db.t VERSION AS OF x "
        "WITH (external_location = '/x')",
    ],
)
def test_parse_clone_refusals(bad):
    with pytest.raises(UnsupportedStatementError):
        parse_statement(bad)


@pytest.fixture()
def src(spark, tmp_path):
    loc = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], i * 10) for i in range(20)],
        "id long, grp string, v long",
    )
    publish_overwrite(spark, loc, df, ["grp"])  # v1
    delete_rows_mor(spark, loc, "id = 3")  # v2: MoR tombstone
    append_rows(
        spark, loc,
        spark.createDataFrame([(100, "a", 1)], "id long, grp string, v long"),
        ["grp"],
    )  # v3
    return loc


def test_clone_is_zero_copy_and_content_exact(spark, src, tmp_path):
    dst = str(tmp_path / "c1")
    out = clone_table(src, dst)
    assert out["cloned_from_version"] == 3 and out["new_version"] == 1
    assert sorted(map(tuple, read_table(spark, dst).collect())) == sorted(
        map(tuple, read_table(spark, src).collect())
    )
    m = read_manifest(dst)
    # zero byte copied: every data file shares the source inode
    for f in m["files"]:
        assert os.stat(f"{dst}/{f}").st_ino == os.stat(f"{src}/{f}").st_ino
    # zero footer reads: stats/rows inherited from the source snapshot
    msrc = read_manifest(src)
    assert m["file_stats"] == msrc["file_stats"]
    assert m["file_rows"] == msrc["file_rows"]
    # the source's stream ledger must NOT carry (a sink's high-water
    # marks belong to the sink; a clone is a new table)
    assert "app_versions" not in m


def test_clone_tombstones_scope_only_copied_files(spark, src, tmp_path):
    """The copied MoR tombstone keeps hiding id=3 in copied files, but a
    post-clone append of a NEW id=3 row must be visible — pre-clone
    tombstones can never shadow post-clone data."""
    dst = str(tmp_path / "c2")
    clone_table(src, dst)
    assert read_table(spark, dst).where("id = 3").count() == 0
    append_rows(
        spark, dst,
        spark.createDataFrame([(3, "b", 999)], "id long, grp string, v long"),
        ["grp"],
    )
    got = read_table(spark, dst).where("id = 3").collect()
    assert [(r.id, r.v) for r in got] == [(3, 999)]
    # and the source is untouched by the clone's write
    assert read_table(spark, src).where("id = 3").count() == 0


def test_clone_survives_source_vacuum_and_erasure(spark, src, tmp_path):
    dst = str(tmp_path / "c3")
    clone_table(src, dst, version=1)  # pin the pre-tombstone snapshot
    assert read_table(spark, dst).count() == 20
    vacuum_manifests(src, keep_last=1)
    shutil.rmtree(src)  # worst case: the source is gone entirely
    assert read_table(spark, dst).count() == 20


def test_clone_refusals(spark, src, tmp_path):
    with pytest.raises(ValueError, match="overlaps"):
        clone_table(src, src)
    with pytest.raises(ValueError, match="overlaps"):
        clone_table(src, f"{src}/nested")
    dst = str(tmp_path / "c4")
    clone_table(src, dst)
    with pytest.raises(FileExistsError):
        clone_table(src, dst)
    plain = str(tmp_path / "plain")
    spark.range(5).write.parquet(plain)
    with pytest.raises(FileNotFoundError, match="manifest"):
        clone_table(plain, str(tmp_path / "c5"))


# ------------------------------------------------------- governed layer
@pytest.fixture()
def env(spark, src, tmp_path):
    cat = GovernedCatalog(spark, lake_root=str(tmp_path))
    cat.create_database("db")
    cat.set_admins(["ops"])
    schema = read_table(spark, src).schema
    cat.register_table(
        TableDef("db", "t", src, schema=schema, partition_keys=("grp",))
    )
    return cat, Engine(spark, cat), str(tmp_path)


def test_sql_clone_end_to_end(env, spark):
    cat, eng, lake = env
    out = eng.sql(
        f"CREATE TABLE db.c CLONE db.t VERSION AS OF 1 "
        f"WITH (external_location = '{lake}/c')",
        "ops",
    ).first()
    assert out.cloned_from_version == 1
    n = eng.sql("SELECT count(*) AS n FROM db.c", "ops").first().n
    assert n == 20
    # catalog entry copied schema + partition keys; creator owns it
    td = cat.tables["db.c"]
    assert td.partition_keys == ("grp",)
    assert any(
        g.permission == "ALL" and g.resource == "c" for g in cat.grants
    )
    # audited
    assert any(
        e["query"].startswith("CLONE TABLE db.c FROM db.t")
        and e["status"] == "succeeded"
        for e in cat.audit.events
    )


def test_clone_gate_denies_conditioned_principal(env):
    cat, eng, lake = env
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        DataCellsFilter,
    )

    cat.create_data_cells_filter(
        DataCellsFilter(
            name="f", database="db", table="t",
            columns=("id", "grp"), row_filter="grp = 'a'",
        )
    )
    cat.grant("analyst", "SELECT", "db", "t", via_filter="f")
    with pytest.raises(PermissionDeniedError, match="unconditioned ALL"):
        eng.sql(
            f"CREATE TABLE db.c CLONE db.t "
            f"WITH (external_location = '{lake}/c')",
            "analyst",
        )
    assert any(
        e["status"] == "denied" and e["query"].startswith("CLONE TABLE")
        for e in cat.audit.events
    )
    assert "db.c" not in cat.tables


def test_clone_carries_pending_quarantine_not_policy(env):
    cat, eng, lake = env
    cat.tables["db.t"].pending_columns.add("v")
    cat.grant("reader", "SELECT", "db", "t")
    eng.clone_table("db.t", "db.c", f"{lake}/c", principal="ops")
    assert cat.tables["db.c"].pending_columns == {"v"}
    # policy does NOT copy: the source's reader holds nothing on the clone
    assert not cat.grants_for("reader", "db", "c")
