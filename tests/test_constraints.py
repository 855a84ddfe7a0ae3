"""Table CHECK constraints (add_constraint / drop_constraint +
commit-time enforcement): the Delta ALTER TABLE ADD CONSTRAINT analog
on manifest tables. A violating batch must never become visible
through any path — append, publish rewrite, or a WAP candidate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    ConstraintViolationError,
    add_constraint,
    append_rows,
    begin_publish,
    drop_constraint,
    load,
    merge_into,
    publish_overwrite,
    read_manifest,
    read_table,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
    rollback_table,
)


@pytest.fixture()
def docs_table(spark, sf_dir, tmp_path):
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = str(tmp_path / "docs")
    publish_overwrite(spark, path, d, ["lang"])
    add_constraint(spark, path, "chars_positive", "n_chars > 0")
    return path, d


def test_add_rejected_when_existing_data_violates(spark, docs_table):
    path, _ = docs_table
    with pytest.raises(ConstraintViolationError, match="existing row"):
        add_constraint(spark, path, "impossible", "n_chars > 100000")
    assert "impossible" not in read_manifest(path).get("constraints", {})


def test_append_enforced_and_table_untouched_on_violation(spark, docs_table):
    path, d = docs_table
    m_before = read_manifest(path)
    bad = d.limit(5).withColumn("n_chars", F.lit(-1).cast("long"))
    with pytest.raises(ConstraintViolationError, match="chars_positive"):
        append_rows(spark, path, bad, partition_by=["lang"])
    assert read_manifest(path) == m_before
    assert read_table(spark, path).filter(F.col("n_chars") <= 0).count() == 0
    # a clean batch still commits
    good = d.limit(5).withColumn("doc_id", F.col("doc_id") + 10_000_000)
    append_rows(spark, path, good, partition_by=["lang"])
    assert read_table(spark, path).count() == d.count() + 5


def test_publish_rewrite_enforced(spark, docs_table):
    path, d = docs_table
    bad = d.withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 50 == 0, -7).otherwise(F.col("n_chars")),
    )
    with pytest.raises(ConstraintViolationError, match="chars_positive"):
        merge_into(
            spark,
            path,
            bad.filter(F.col("doc_id") % 50 == 0),
            ["doc_id"],
            partition_by=["lang"],
            schema=d.schema,
            collect_stats=False,
        )
    assert read_table(spark, path).filter(F.col("n_chars") <= 0).count() == 0


def test_wap_candidate_enforced(spark, docs_table):
    path, d = docs_table
    bad = d.withColumn("n_chars", F.lit(0).cast("long"))
    with pytest.raises(ConstraintViolationError, match="chars_positive"):
        begin_publish(spark, path, bad, ["lang"])
    # no candidate marker or stray files left behind
    from pathlib import Path

    assert not list(Path(path, "_manifests").glob("candidate_*.json"))
    on_disk = {
        str(p.relative_to(path))
        for p in Path(path).rglob("*.parquet")
        if p.is_file()
    }
    assert on_disk == set(read_manifest(path)["files"])


def test_null_check_passes_sql_semantics(spark, docs_table):
    path, d = docs_table
    # CHECK passes on UNKNOWN: a NULL n_chars row is accepted by
    # `n_chars > 0` (add an explicit NOT NULL constraint to forbid it)
    batch = spark.createDataFrame(
        [(20_000_001, "en", "synthetic", None)], d.schema
    )
    append_rows(spark, path, batch, partition_by=["lang"])
    assert (
        read_table(spark, path).filter(F.col("doc_id") == 20_000_001).count()
        == 1
    )


def test_not_null_add_refused_then_enforced_after_cleanup(spark, docs_table):
    path, d = docs_table
    batch = spark.createDataFrame(
        [(20_000_001, "en", "synthetic", None)], d.schema
    )
    append_rows(spark, path, batch, partition_by=["lang"])
    with pytest.raises(ConstraintViolationError, match="existing row"):
        add_constraint(spark, path, "chars_not_null", "n_chars IS NOT NULL")


def test_drop_constraint_reopens(spark, docs_table):
    path, d = docs_table
    drop_constraint(path, "chars_positive")
    bad = d.limit(3).withColumn("n_chars", F.lit(-1).cast("long")).withColumn(
        "doc_id", F.col("doc_id") + 30_000_000
    )
    append_rows(spark, path, bad, partition_by=["lang"])  # no longer gated
    assert read_table(spark, path).filter(F.col("n_chars") < 0).count() == 3
    with pytest.raises(KeyError):
        drop_constraint(path, "chars_positive")


def test_constraints_survive_rollback(spark, docs_table):
    path, d = docs_table
    v_with = read_manifest(path)["version"]
    drop_constraint(path, "chars_positive")
    rollback_table(path, v_with)
    assert "chars_positive" in read_manifest(path)["constraints"]
    with pytest.raises(ConstraintViolationError):
        append_rows(
            spark,
            path,
            d.limit(1).withColumn("n_chars", F.lit(-1).cast("long")),
            partition_by=["lang"],
        )


def test_sql_add_drop_constraint_roundtrip(spark, tmp_path):
    """Round-14: the ALTER TABLE ADD/DROP CONSTRAINT statement forms —
    admin-gated, audited, existing data validated first, violating
    INSERT refused with zero table change."""
    import pytest

    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.engine import (
        Engine,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        PermissionDeniedError,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
        read_manifest,
    )

    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(10)], "id long, v long"
    )
    loc = f"{lake}/t"
    publish_overwrite(spark, loc, df, None)
    cat.register_table(TableDef("db", "t", loc, schema=df.schema))
    eng = Engine(spark, cat)
    cat.grant("analyst", "SELECT", "db", "t")
    with pytest.raises(PermissionDeniedError):
        eng.sql(
            "ALTER TABLE db.t ADD CONSTRAINT c CHECK (v >= 0)", "analyst"
        )
    # existing data validates FIRST
    with pytest.raises(ConstraintViolationError):
        eng.sql("ALTER TABLE db.t ADD CONSTRAINT c CHECK (v < 50)", "ops")
    assert "c" not in (read_manifest(loc).get("constraints") or {})
    out = eng.sql(
        "ALTER TABLE db.t ADD CONSTRAINT c CHECK (v < 1000)", "ops"
    ).first()
    assert out.status == "added"
    assert read_manifest(loc)["constraints"] == {"c": "v < 1000"}
    with pytest.raises(ConstraintViolationError):
        eng.sql("INSERT INTO db.t VALUES (100, 5000)", "ops")
    eng.sql("ALTER TABLE db.t DROP CONSTRAINT c", "ops")
    eng.sql("INSERT INTO db.t VALUES (100, 5000)", "ops")
    assert eng.sql("SELECT count(*) AS n FROM db.t", "ops").first().n == 11
    # the audit trail carries both maintain lines with the expression
    maint = [
        e
        for e in cat.audit.events
        if e["query"].startswith("MAINTAIN add_constraint")
        or e["query"].startswith("MAINTAIN drop_constraint")
    ]
    assert any("CHECK (v < 1000)" in e["query"] for e in maint)
