"""Engine.stage_and_publish — the multi-table coordinated publish
(round-10): staged writes invisible until publication, the visibility
window is exactly one pointer rename per table, failure contracts are
honest (nothing-published abandons; partial names what landed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark import (
    Engine,
    PermissionDeniedError,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
    GovernedCatalog,
    TableDef,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    lake as lk,
)


@pytest.fixture()
def two_tables(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("sp"))
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    docs = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], i) for i in range(20)],
        "id long, grp string, v long",
    )
    stats = spark.createDataFrame(
        [("a", 10), ("b", 10)], "grp string, n long"
    )
    lk.publish_overwrite(spark, f"{lake}/docs", docs, ["grp"])
    lk.publish_overwrite(spark, f"{lake}/stats", stats, None)
    cat.register_table(
        TableDef("db", "docs", f"{lake}/docs", schema=docs.schema,
                 partition_keys=("grp",))
    )
    cat.register_table(
        TableDef("db", "stats", f"{lake}/stats", schema=stats.schema)
    )
    return Engine(spark, cat), docs, stats


def _batches(spark):
    new_docs = spark.createDataFrame(
        [(100 + i, ["a", "b"][i % 2], i) for i in range(10)],
        "id long, grp string, v long",
    )
    new_stats = spark.createDataFrame(
        [("a", 5), ("b", 5)], "grp string, n long"
    )
    return new_docs, new_stats


def test_staged_writes_invisible_then_both_publish(spark, two_tables):
    eng, docs, stats = two_tables
    new_docs, new_stats = _batches(spark)
    seen_during = {}

    def writer(stage):
        stage.append("db.docs", new_docs)
        stage.append("db.stats", new_stats)
        # mid-callback: main readers see ONLY the pre-publish state
        seen_during["docs"] = eng.sql(
            "SELECT count(*) AS n FROM db.docs", "ops"
        ).first().n
        seen_during["stats"] = eng.sql(
            "SELECT sum(n) AS s FROM db.stats", "ops"
        ).first().s
        # the write-audit read sees the staged rows
        assert stage.read("db.docs").count() == 30

    res = eng.stage_and_publish(["db.docs", "db.stats"], writer, "ops")
    assert seen_during == {"docs": 20, "stats": 20}
    assert eng.sql("SELECT count(*) AS n FROM db.docs", "ops").first().n == 30
    assert eng.sql("SELECT sum(n) AS s FROM db.stats", "ops").first().s == 30
    assert set(res["versions"]) == {"db.docs", "db.stats"}
    # branches cleaned up after publication
    assert lk.list_branches(eng.catalog.tables["db.docs"].location) == {}
    assert lk.list_branches(eng.catalog.tables["db.stats"].location) == {}


def test_visibility_window_is_per_table_pointer_renames(
    spark, two_tables, monkeypatch
):
    """Probe BETWEEN the two fast-forwards: the first table is already
    fully new, the second still fully old — the cross-table window is
    the rename loop and nothing else, and each table is individually
    atomic (never a mixed row set)."""
    eng, docs, stats = two_tables
    new_docs, new_stats = _batches(spark)
    real_ff = lk.fast_forward
    observed = []

    def probing_ff(path, name):
        observed.append(
            (
                eng.sql("SELECT count(*) AS n FROM db.docs", "ops").first().n,
                eng.sql("SELECT sum(n) AS s FROM db.stats", "ops").first().s,
            )
        )
        return real_ff(path, name)

    monkeypatch.setattr(lk, "fast_forward", probing_ff)

    def writer(stage):
        stage.append("db.docs", new_docs)
        stage.append("db.stats", new_stats)

    eng.stage_and_publish(["db.docs", "db.stats"], writer, "ops")
    # before FF#1: both old; before FF#2: docs new+complete, stats old
    assert observed == [(20, 20), (30, 20)]
    assert eng.sql("SELECT sum(n) AS s FROM db.stats", "ops").first().s == 30


def test_writer_failure_abandons_staging(spark, two_tables):
    eng, docs, stats = two_tables
    new_docs, _ = _batches(spark)

    def writer(stage):
        stage.append("db.docs", new_docs)
        raise RuntimeError("validation failed")

    with pytest.raises(RuntimeError, match="validation failed"):
        eng.stage_and_publish(["db.docs", "db.stats"], writer, "ops")
    # nothing published, branches dropped
    assert eng.sql("SELECT count(*) AS n FROM db.docs", "ops").first().n == 20
    assert lk.list_branches(eng.catalog.tables["db.docs"].location) == {}
    failed = [
        e for e in eng.catalog.audit.events if e["status"] == "failed"
    ]
    assert any("nothing published" in (e["error"] or "") for e in failed)


def test_partial_publish_names_what_landed(spark, two_tables, monkeypatch):
    """A concurrent main commit on the SECOND table between fork and
    publish: table 1 publishes, table 2 refuses (fast-forward-only) —
    the audit line names the published set and the kept branch."""
    eng, docs, stats = two_tables
    new_docs, new_stats = _batches(spark)

    def writer(stage):
        stage.append("db.docs", new_docs)
        stage.append("db.stats", new_stats)
        # concurrent writer advances stats MAIN after the fork
        lk.append_rows(
            spark,
            eng.catalog.tables["db.stats"].location,
            spark.createDataFrame([("c", 1)], "grp string, n long"),
        )

    with pytest.raises(lk.ConcurrentLakeModificationError):
        eng.stage_and_publish(["db.docs", "db.stats"], writer, "ops")
    # docs published (can't be unpublished), stats kept its branch
    assert eng.sql("SELECT count(*) AS n FROM db.docs", "ops").first().n == 30
    assert eng.sql("SELECT sum(n) AS s FROM db.stats", "ops").first().s == 21
    assert lk.list_branches(eng.catalog.tables["db.stats"].location)
    failed = [
        e for e in eng.catalog.audit.events if e["status"] == "failed"
    ]
    assert any("published=['db.docs']" in (e["error"] or "") for e in failed)


def test_stage_and_publish_gated(spark, two_tables):
    eng, docs, stats = two_tables
    eng.catalog.grant("reader", "SELECT", "db", "docs")
    with pytest.raises(PermissionDeniedError):
        eng.stage_and_publish(
            ["db.docs", "db.stats"], lambda stage: None, "reader"
        )
    # no branches were ever created for the denied principal
    assert lk.list_branches(eng.catalog.tables["db.docs"].location) == {}
