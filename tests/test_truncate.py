"""TRUNCATE TABLE (round-14): one zero-file snapshot commit — a
mutation, not erasure; time travel keeps serving the pre-truncate cut
until vacuum reclaims it; layout/constraints/ledger carry."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

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
    publish_overwrite,
    read_manifest,
    read_table,
    truncate_table,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
    count_rows,
    delete_rows_mor,
    vacuum_manifests,
)


def _docs(spark, lo=0, hi=10):
    return spark.createDataFrame(
        [(i, f"t{i}", ["en", "de"][i % 2], i * 10) for i in range(lo, hi)],
        "doc_id long, text string, lang string, n_chars long",
    )


def test_truncate_is_metadata_only_mutation(spark, tmp_path):
    path = str(tmp_path / "docs")
    publish_overwrite(spark, path, _docs(spark), ["lang"])
    v1_files = read_manifest(path)["files"]
    snap = truncate_table(path)
    assert snap["files"] == []
    assert read_table(spark, path).count() == 0
    assert count_rows(path)["rows"] == 0  # metadata COUNT serves zero
    # mutation, not erasure: time travel still serves every row
    assert read_table(spark, path, version=1).count() == 10
    # data files still on disk until vacuum
    import pathlib

    assert all((pathlib.Path(path) / f).exists() for f in v1_files)
    vacuum_manifests(path, keep_last=1)
    assert not any((pathlib.Path(path) / f).exists() for f in v1_files)


def test_layout_and_ledger_carry_across_truncate(spark, tmp_path):
    path = str(tmp_path / "docs")
    publish_overwrite(spark, path, _docs(spark), ["lang"])
    append_rows(
        spark, path, _docs(spark, 10, 12), ["lang"], stream_id="s", batch_id=3
    )
    truncate_table(path)
    m = read_manifest(path)
    assert m["partition_by"] == ["lang"]
    assert m["app_versions"] == {"s": 3}  # replay ledger carried
    # a replay of batch 3 after the truncate is still a no-op
    assert (
        append_rows(
            spark, path, _docs(spark, 10, 12), ["lang"],
            stream_id="s", batch_id=3,
        )
        is None
    )
    # a genuinely new append lands under the carried layout
    append_rows(spark, path, _docs(spark, 20, 25), ["lang"])
    assert read_table(spark, path).count() == 5


def test_truncate_clears_tombstones_and_refuses_non_manifest(spark, tmp_path):
    path = str(tmp_path / "docs")
    publish_overwrite(spark, path, _docs(spark), ["lang"])
    delete_rows_mor(spark, path, "doc_id % 2 = 0")
    assert read_manifest(path)["delete_predicates"]
    truncate_table(path)
    assert not read_manifest(path).get("delete_predicates")
    # a plain directory is adopted as v1, then truncated
    plain = str(tmp_path / "plain")
    _docs(spark).write.parquet(plain)
    snap = truncate_table(plain)
    assert snap["version"] == 2 and snap["files"] == []
    assert read_manifest(plain, 1)["files"]
    with pytest.raises(ValueError, match="holds no data"):
        truncate_table(str(tmp_path / "missing"))


def test_sql_truncate_gate_result_and_audit(spark, tmp_path):
    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    publish_overwrite(spark, loc, _docs(spark), ["lang"])
    cat.register_table(
        TableDef(
            "db", "docs", loc, schema=_docs(spark).schema,
            partition_keys=("lang",),
        )
    )
    eng = Engine(spark, cat)
    cat.grant("analyst", "SELECT", "db", "docs")
    with pytest.raises(PermissionDeniedError):
        eng.sql("TRUNCATE TABLE db.docs", "analyst")
    out = eng.sql("TRUNCATE TABLE db.docs", "ops").first()
    assert out.rows_removed == 10 and out.version == 2
    assert eng.sql("SELECT count(*) AS n FROM db.docs", "ops").first().n == 0
    maint = [
        e
        for e in cat.audit.events
        if e["query"].startswith("MAINTAIN truncate")
    ]
    # the denied attempt and the successful run both leave audit lines
    assert [e["status"] for e in maint] == ["denied", "ok"]


def test_truncate_refuses_mv_state(spark, tmp_path):
    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    publish_overwrite(spark, loc, _docs(spark), ["lang"])
    cat.register_table(
        TableDef(
            "db", "docs", loc, schema=_docs(spark).schema,
            partition_keys=("lang",),
        )
    )
    eng = Engine(spark, cat)
    eng.create_materialized_view(
        "db.mv", "db.docs", ["lang"], {"n": ("count", None)}, principal="ops"
    )
    with pytest.raises(ValueError, match="derived"):
        eng.sql("TRUNCATE TABLE db.mv", "ops")


def test_truncate_counts_rows_under_the_publish_lock(spark, tmp_path):
    """Round-15 ADVICE: rows_removed comes from truncate_table itself,
    counted inside the publish lock from the re-read manifest —
    metadata-only when footer counts cover every live file, an exact
    scan when tombstones are in force."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        delete_rows_mor,
        truncate_table,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i * 1.0) for i in range(12)],
        "id long, grp string, v double",
    )
    publish_overwrite(spark, path, df, ["grp"])
    snap = truncate_table(path)
    assert snap["rows_removed"] == 12  # metadata-only, no spark needed
    # re-publish, tombstone 3 rows (MoR): footer counts overcount, so
    # the lock-held fallback must SCAN — and needs the session
    publish_overwrite(spark, path, df, ["grp"])
    delete_rows_mor(spark, path, "id < 3")
    snap2 = truncate_table(path)
    assert snap2["rows_removed"] is None  # no session: report None
    publish_overwrite(spark, path, df, ["grp"])
    delete_rows_mor(spark, path, "id < 3")
    snap3 = truncate_table(path, spark=spark)
    assert snap3["rows_removed"] == 9  # exact scan under the lock
