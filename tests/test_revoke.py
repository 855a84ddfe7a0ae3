"""RevokePermissions + SHOW GRANTS (round 12) — the permission
lifecycle's missing direction (the reference's ``terraform destroy``
calls the LF RevokePermissions API) and the permissions-console view.

Revocation safety is structural: grants are governance state, so a
revoke changes the fingerprint and every reuse-cached result keyed on
the old digest stops serving — pinned here end to end.
"""

from __future__ import annotations

import pytest

from tf_aws_lakeformation_governed_datalake_demo_spark import fixtures as fx
from tf_aws_lakeformation_governed_datalake_demo_spark.engine import Engine
from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
    PermissionDeniedError,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.statements import (
    ShowGrantsStatement,
    UnsupportedStatementError,
    parse_statement,
)


def test_parse_show_grants():
    s = parse_statement("SHOW GRANTS ON sales_db.sales")
    assert isinstance(s, ShowGrantsStatement)
    assert (s.target, s.principal) == ("sales_db.sales", None)
    s = parse_statement("show grants for analyst on sales_db.sales")
    assert s.principal == "analyst"
    with pytest.raises(UnsupportedStatementError):
        parse_statement("SHOW GRANTS")  # object required


@pytest.fixture()
def engine(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("revoke"))
    return Engine(spark, fx.bootstrap(spark, lake))


def test_revoke_removes_access_immediately(engine):
    q = "SELECT count(*) AS n FROM sales_db.sales"
    assert engine.sql(q, "analyst").first().n == 8  # filtered grant
    fp = engine.catalog.governance_fingerprint()
    n = engine.catalog.revoke("analyst", "SELECT", "sales_db", "sales")
    assert n == 1
    assert engine.catalog.governance_fingerprint() != fp, (
        "revocation must churn the fingerprint (reuse-cache safety)"
    )
    with pytest.raises(PermissionDeniedError):
        engine.sql(q, "analyst")


def test_revoked_principal_cannot_ride_the_reuse_cache(engine):
    q = "SELECT count(*) AS n FROM sales_db.sales"
    assert engine.sql(q, "analyst", reuse_max_age=3600).first().n == 8
    engine.catalog.revoke("analyst")
    with pytest.raises(PermissionDeniedError):
        engine.sql(q, "analyst", reuse_max_age=3600)


def test_revoke_wildcards_and_counts(engine):
    cat = engine.catalog
    cat.grant("temp", "SELECT", "sales_db", "sales")
    cat.grant("temp", "SELECT", "sales_db", "sales_masked")
    assert cat.revoke("temp") == 2  # strip the principal entirely
    assert cat.revoke("temp") == 0  # idempotent
    assert not cat.grants_for("temp", "sales_db", "sales")


def test_show_grants_admin_and_self_views(engine):
    rows = engine.sql("SHOW GRANTS ON sales_db.sales", "dataadmin").collect()
    assert {(r.principal, r.permission) for r in rows} >= {
        ("dataadmin", "ALL"),
        ("analyst", "SELECT"),
    }
    assert any(r.via_filter for r in rows if r.principal == "analyst")
    own = engine.sql("SHOW GRANTS ON sales_db.sales", "analyst").collect()
    assert {r.principal for r in own} == {"analyst"}
    # naming oneself is fine; naming anyone else is not
    assert engine.sql(
        "SHOW GRANTS FOR analyst ON sales_db.sales", "analyst"
    ).count() == len(own)
    with pytest.raises(PermissionDeniedError, match="admin"):
        engine.sql("SHOW GRANTS FOR dataadmin ON sales_db.sales", "analyst")


def test_show_grants_implicit_deny_hides_existence(engine):
    with pytest.raises(PermissionDeniedError):
        engine.sql("SHOW GRANTS ON sales_db.sales", "nobody")
    with pytest.raises(KeyError):
        engine.sql("SHOW GRANTS ON sales_db.ghost", "dataadmin")


def test_describe_detail_metadata_only(engine, spark, tmp_path_factory):
    """DESCRIBE DETAIL (round 12): Delta's one-row metadata summary —
    answered from catalog + manifest (plus file stats), gated like
    DESCRIBE."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
    )

    lake = str(tmp_path_factory.mktemp("detail"))
    cat = engine.catalog
    d = engine.sql("SELECT * FROM sales_db.sales", "dataadmin")
    publish_overwrite(spark, f"{lake}/m", d, ["sales_region"])
    cat.register_table(
        TableDef(
            "sales_db", "m", f"{lake}/m",
            schema=d.schema, partition_keys=("sales_region",),
        )
    )
    cat.grant("dataadmin", "ALL", "sales_db", "m")
    row = engine.sql("DESCRIBE DETAIL sales_db.m", "dataadmin").first()
    assert row.version == 1 and row.num_rows == 20
    assert row.partition_by == ["sales_region"]
    assert row.num_files >= 3 and row.size_bytes > 0
    assert row.num_tombstones == 0
    # non-manifest table: directory facts, no version
    row = engine.sql("DESCRIBE DETAIL sales_db.sales", "dataadmin").first()
    assert row.version is None and row.num_files >= 1
    assert row.size_bytes > 0
    # implicit deny hides existence
    with pytest.raises(PermissionDeniedError):
        engine.sql("DESCRIBE DETAIL sales_db.m", "nobody")
