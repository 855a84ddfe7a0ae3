"""Plain DDL + permission verbs as governed SQL (round 13) — the last
Athena modalities a first-session reference user hits: CREATE DATABASE
(main.tf:291-300), column-list CREATE [EXTERNAL] TABLE
(main.tf:303-372), DROP TABLE, and GRANT/REVOKE
(aws_lakeformation_permissions, main.tf:460-487) as statements.

Gates under test: database creation and external-location registration
are admin-only (the LF data-location permission — a non-admin could
otherwise point a fresh table at files behind another table's row
security); DROP TABLE needs admin or an unconditioned ALL grant and
strips every grant on the dropped resource; GRANT/REVOKE are
admin-only and take effect immediately.
"""

from __future__ import annotations

import os

import pytest

from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
    GovernedCatalog,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.engine import Engine
from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
    PermissionDeniedError,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.statements import (
    CreateDatabaseStatement,
    CreateTableStatement,
    DropTableStatement,
    GrantStatement,
    RevokeStatement,
    UnsupportedStatementError,
    parse_statement,
)


# ------------------------------------------------------------- grammar
def test_parse_create_database():
    s = parse_statement("CREATE DATABASE sales_db")
    assert isinstance(s, CreateDatabaseStatement)
    assert (s.name, s.if_not_exists, s.comment) == ("sales_db", False, None)
    s = parse_statement(
        "create schema if not exists d comment 'it''s a lake'"
    )
    assert (s.name, s.if_not_exists, s.comment) == ("d", True, "it's a lake")
    with pytest.raises(UnsupportedStatementError):
        parse_statement("CREATE DATABASE d LOCATION '/x'")


def test_parse_create_table_column_list():
    s = parse_statement(
        "CREATE EXTERNAL TABLE sales_db.sales ("
        "customer_id string COMMENT 'Unique customer identifier', "
        "sales_amount double) "
        "PARTITIONED BY (sales_region string) "
        "STORED AS PARQUET LOCATION '/lake/sales'"
    )
    assert isinstance(s, CreateTableStatement)
    assert s.target == "sales_db.sales"
    assert s.columns == (
        ("customer_id", "string", "Unique customer identifier"),
        ("sales_amount", "double", None),
    )
    assert s.partitioned_by == (("sales_region", "string", None),)
    assert s.location == "/lake/sales"
    # complex types: commas inside <> and () must not split items
    s = parse_statement(
        "CREATE TABLE IF NOT EXISTS db.t (a array<float>, "
        "m map<string,int>, d decimal(10,2)) LOCATION '/l'"
    )
    assert s.if_not_exists and len(s.columns) == 3
    assert s.columns[1] == ("m", "map<string,int>", None)


def test_parse_create_table_refusals():
    for bad in (
        "CREATE TABLE db.t (a int)",  # no LOCATION: external-only engine
        "CREATE EXTERNAL TABLE db.t LOCATION '/l'",  # no column list
        "CREATE TABLE db.t (a int, A string) LOCATION '/l'",  # dup col
        "CREATE TABLE db.t (a int) STORED AS ORC LOCATION '/l'",
        "CREATE TABLE db.t (a int) LOCATION '/l' TBLPROPERTIES ('x'='y')",
    ):
        with pytest.raises(UnsupportedStatementError):
            parse_statement(bad)
    # CTAS and CLONE keep their existing forms
    assert parse_statement(
        "CREATE TABLE db.t WITH (external_location = '/l') AS SELECT 1 AS x"
    ).__class__.__name__ == "CtasStatement"
    assert parse_statement(
        "CREATE TABLE db.c CLONE db.t WITH (external_location = '/l')"
    ).__class__.__name__ == "CloneStatement"


def test_parse_drop_table_and_grant_revoke():
    s = parse_statement("DROP TABLE IF EXISTS db.t")
    assert isinstance(s, DropTableStatement) and s.if_exists
    g = parse_statement("GRANT SELECT ON TABLE db.t TO analyst")
    assert isinstance(g, GrantStatement)
    assert (g.permission, g.target, g.principal) == (
        "SELECT", "db.t", "analyst",
    )
    r = parse_statement("REVOKE ON db.t FROM analyst")
    assert isinstance(r, RevokeStatement) and r.permission is None
    assert parse_statement("REVOKE ALL ON db.t FROM x").permission == "ALL"
    for bad in (
        "GRANT DELETE ON db.t TO x",  # unknown permission
        "GRANT SELECT ON db.t TO x WITH GRANT OPTION",
        "REVOKE SELECT FROM analyst",  # object required
        "DROP TABLE t",  # unqualified
    ):
        with pytest.raises(UnsupportedStatementError):
            parse_statement(bad)


# ------------------------------------------------------------ engine
@pytest.fixture()
def eng(spark, tmp_path):
    cat = GovernedCatalog(spark, lake_root=str(tmp_path))
    cat.set_admins(["ops"])
    return Engine(spark, cat)


def _declare(eng, tmp_path, table="sales_db.sales"):
    loc = f"{tmp_path}/{table.split('.')[1]}"
    eng.sql("CREATE DATABASE IF NOT EXISTS sales_db", "ops")
    eng.sql(
        f"CREATE EXTERNAL TABLE {table} (id bigint COMMENT 'pk', "
        "region string, amount double) PARTITIONED BY (yr int) "
        f"STORED AS PARQUET LOCATION '{loc}'",
        "ops",
    )
    return loc


def test_create_database_lifecycle(eng):
    assert eng.sql("CREATE DATABASE d COMMENT 'x'", "ops").first().created
    assert eng.catalog.databases["d"] == "x"
    assert not eng.sql("CREATE DATABASE IF NOT EXISTS d", "ops").first().created
    with pytest.raises(ValueError):
        eng.sql("CREATE DATABASE d", "ops")
    with pytest.raises(PermissionDeniedError):
        eng.sql("CREATE DATABASE hax", "analyst")


def test_create_table_schema_on_read(eng, spark, tmp_path):
    """The reference's exact flow: declare the table, upload parquet
    out-of-band afterwards (upload_sample.sh:27), query through the
    declared schema."""
    loc = _declare(eng, tmp_path)
    td = eng.catalog.tables["sales_db.sales"]
    assert td.partition_keys == ("yr",)
    assert td.column_comments["id"] == "pk"
    assert [f.name for f in td.schema.fields] == [
        "id", "region", "amount", "yr",
    ]
    spark.createDataFrame(
        [(1, "APAC", 10.0, 2024), (2, "EMEA", 20.0, 2024),
         (3, "APAC", 30.0, 2025)],
        "id long, region string, amount double, yr int",
    ).write.mode("overwrite").partitionBy("yr").parquet(loc)
    got = eng.sql(
        "SELECT yr, count(*) AS n, sum(amount) AS amt FROM sales_db.sales "
        "GROUP BY yr ORDER BY yr",
        "ops",
    ).collect()
    assert [(r.yr, r.n, r.amt) for r in got] == [
        (2024, 2, 30.0), (2025, 1, 30.0),
    ]
    # creator owns the table
    assert any(
        g.principal == "ops" and g.permission == "ALL"
        for g in eng.catalog.grants_for("ops", "sales_db", "sales")
    )


def test_create_table_gates(eng, tmp_path):
    _declare(eng, tmp_path)
    # IF NOT EXISTS on an existing table: no-op, created=False
    r = eng.sql(
        "CREATE TABLE IF NOT EXISTS sales_db.sales (x int) "
        f"LOCATION '{tmp_path}/other'",
        "ops",
    ).first()
    assert not r.created
    # non-admin: the data-location permission refuses
    with pytest.raises(PermissionDeniedError):
        eng.sql(
            f"CREATE TABLE sales_db.hax (x int) LOCATION '{tmp_path}/h'",
            "analyst",
        )
    # unknown database fails closed
    with pytest.raises(KeyError):
        eng.sql(
            f"CREATE TABLE nodb.t (x int) LOCATION '{tmp_path}/n'",
            "ops",
        )
    # a bad type name raises BEFORE any catalog mutation
    with pytest.raises(ValueError):
        eng.sql(
            f"CREATE TABLE sales_db.bad (x intt) LOCATION '{tmp_path}/b'",
            "ops",
        )
    assert "sales_db.bad" not in eng.catalog.tables


def test_drop_table_strips_grants_keeps_data(eng, spark, tmp_path):
    loc = _declare(eng, tmp_path)
    spark.createDataFrame(
        [(1, "APAC", 1.0, 2024)],
        "id long, region string, amount double, yr int",
    ).write.mode("overwrite").partitionBy("yr").parquet(loc)
    eng.sql("GRANT SELECT ON sales_db.sales TO a3", "ops")
    # SELECT-only principal may not drop
    with pytest.raises(PermissionDeniedError):
        eng.sql("DROP TABLE sales_db.sales", "a3")
    assert eng.sql("DROP TABLE sales_db.sales", "ops").first().dropped
    assert "sales_db.sales" not in eng.catalog.tables
    # every grant on the dropped resource is gone: re-registering the
    # name must not resurrect a3's access
    assert not [
        g for g in eng.catalog.grants
        if g.database == "sales_db" and g.resource == "sales"
    ]
    # EXTERNAL semantics: data untouched
    assert os.path.exists(loc)
    # IF EXISTS after the drop: dropped=False, no error
    assert not eng.sql(
        "DROP TABLE IF EXISTS sales_db.sales", "ops"
    ).first().dropped
    with pytest.raises(KeyError):
        eng.sql("DROP TABLE sales_db.sales", "ops")


def test_drop_table_refuses_under_dependent_mv(eng, spark, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        TableDef,
    )

    eng.sql("CREATE DATABASE db", "ops")
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i) for i in range(8)],
        "id long, grp string, v long",
    )
    loc = f"{tmp_path}/docs"
    publish_overwrite(spark, loc, df, ["grp"])
    eng.catalog.register_table(
        TableDef("db", "docs", loc, schema=df.schema,
                 partition_keys=("grp",))
    )
    eng.create_materialized_view(
        "db.mv", "db.docs", ["grp"], {"n": ("count", None)},
        principal="ops",
    )
    with pytest.raises(ValueError, match="materialized view"):
        eng.sql("DROP TABLE db.docs", "ops")
    eng.sql("DROP MATERIALIZED VIEW db.mv", "ops")
    assert eng.sql("DROP TABLE db.docs", "ops").first().dropped


def test_grant_revoke_sql_end_to_end(eng, spark, tmp_path):
    loc = _declare(eng, tmp_path)
    spark.createDataFrame(
        [(1, "APAC", 1.0, 2024), (2, "EMEA", 2.0, 2024)],
        "id long, region string, amount double, yr int",
    ).write.mode("overwrite").partitionBy("yr").parquet(loc)
    q = "SELECT count(*) AS n FROM sales_db.sales"
    with pytest.raises(PermissionDeniedError):
        eng.sql(q, "a2")
    assert eng.sql(
        "GRANT SELECT ON sales_db.sales TO a2", "ops"
    ).first().granted
    assert eng.sql(q, "a2").first().n == 2
    # idempotent: the identical grant does not duplicate
    assert not eng.sql(
        "GRANT SELECT ON sales_db.sales TO a2", "ops"
    ).first().granted
    assert len(eng.catalog.grants_for("a2", "sales_db", "sales")) == 1
    # non-admin may not use the permissions console
    for stmt in (
        "GRANT ALL ON sales_db.sales TO a2",
        "REVOKE SELECT ON sales_db.sales FROM a2",
    ):
        with pytest.raises(PermissionDeniedError):
            eng.sql(stmt, "a2")
    # phantom objects fail closed
    with pytest.raises(KeyError):
        eng.sql("GRANT SELECT ON sales_db.ghost TO a2", "ops")
    r = eng.sql("REVOKE SELECT ON sales_db.sales FROM a2", "ops").first()
    assert r.revoked == 1
    with pytest.raises(PermissionDeniedError):
        eng.sql(q, "a2")


def test_grant_by_sql_not_served_from_stale_reuse_cache(eng, spark, tmp_path):
    """The revoke-by-SQL must churn the governance fingerprint exactly
    like the API revoke: a cached result produced under the grant may
    never serve after the revoke."""
    loc = _declare(eng, tmp_path)
    spark.createDataFrame(
        [(1, "APAC", 1.0, 2024)],
        "id long, region string, amount double, yr int",
    ).write.mode("overwrite").partitionBy("yr").parquet(loc)
    eng.sql("GRANT SELECT ON sales_db.sales TO a5", "ops")
    q = "SELECT count(*) AS n FROM sales_db.sales"
    first = eng._execute(q, "a5", reuse_max_age=3600)
    assert first.state.name == "SUCCEEDED"
    eng.sql("REVOKE ON sales_db.sales FROM a5", "ops")
    second = eng._execute(q, "a5", reuse_max_age=3600)
    assert second.reused_from is None
    assert second.state.name == "FAILED"


def test_ddl_audit_trail(eng, tmp_path):
    _declare(eng, tmp_path)
    eng.sql("GRANT SELECT ON sales_db.sales TO a6", "ops")
    eng.sql("REVOKE SELECT ON sales_db.sales FROM a6", "ops")
    eng.sql("DROP TABLE sales_db.sales", "ops")
    actions = [e["query"] for e in eng.catalog.audit.events]
    for needle in (
        "CREATE DATABASE sales_db",
        "CREATE TABLE sales_db.sales",
        "GRANT SELECT ON sales_db.sales TO a6",
        "REVOKE SELECT ON sales_db.sales FROM a6",
        "DROP TABLE sales_db.sales",
    ):
        assert any(needle in a for a in actions), needle
    # denials audit too
    try:
        eng.sql("CREATE DATABASE no", "intruder")
    except PermissionDeniedError:
        pass
    denied = [
        e for e in eng.catalog.audit.events
        if e["principal"] == "intruder" and e["status"] == "denied"
    ]
    assert denied


def test_show_create_table_roundtrip(eng, spark, tmp_path):
    """SHOW CREATE TABLE's output, re-executed verbatim through
    engine.sql, must re-declare an equivalent table — the console
    copy-paste loop closes."""
    _declare(eng, tmp_path)
    ddl = eng.sql("SHOW CREATE TABLE sales_db.sales", "ops").first().ddl
    assert "CREATE EXTERNAL TABLE sales_db.sales" in ddl
    assert "COMMENT 'pk'" in ddl and "PARTITIONED BY (yr int)" in ddl
    before = eng.catalog.tables["sales_db.sales"]
    eng.sql("DROP TABLE sales_db.sales", "ops")
    eng.sql(ddl, "ops")
    after = eng.catalog.tables["sales_db.sales"]
    assert after.schema == before.schema
    assert after.partition_keys == before.partition_keys
    assert after.location == before.location
    assert after.column_comments == before.column_comments


def test_show_create_table_and_columns_redaction(eng, spark, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        DataCellsFilter,
    )

    _declare(eng, tmp_path)
    eng.catalog.create_data_cells_filter(
        DataCellsFilter(
            "narrow", "sales_db", "sales", ("id", "yr"), None
        )
    )
    eng.catalog.grant(
        "narrow_p", "SELECT", "sales_db", "sales", via_filter="narrow"
    )
    ddl = eng.sql("SHOW CREATE TABLE sales_db.sales", "narrow_p").first().ddl
    assert "region" not in ddl and "amount" not in ddl
    assert "id bigint" in ddl
    cols = [
        r.col_name
        for r in eng.sql("SHOW COLUMNS IN sales_db.sales", "narrow_p").collect()
    ]
    assert cols == ["id", "yr"]
    # no grant: existence hidden
    with pytest.raises(PermissionDeniedError):
        eng.sql("SHOW CREATE TABLE sales_db.sales", "nobody")
    # view DDL comes back verbatim (body validation needs readable
    # data at the location — schema-on-read)
    spark.createDataFrame(
        [(1, "APAC", 1.0, 2024)],
        "id long, region string, amount double, yr int",
    ).write.mode("overwrite").partitionBy("yr").parquet(
        eng.catalog.tables["sales_db.sales"].location
    )
    eng.sql(
        "CREATE VIEW sales_db.v AS SELECT id FROM sales_db.sales", "ops"
    )
    vddl = eng.sql("SHOW CREATE TABLE sales_db.v", "ops").first().ddl
    assert vddl == (
        "CREATE OR REPLACE VIEW sales_db.v AS SELECT id FROM sales_db.sales"
    )


def test_ddl_declared_state_survives_catalog_reload(eng, spark, tmp_path):
    """A table declared and granted entirely through SQL must
    round-trip the durable catalog: schema, comments, partition keys,
    and the SQL-issued grant all survive save/load, and the granted
    principal still reads."""
    loc = _declare(eng, tmp_path)
    spark.createDataFrame(
        [(1, "APAC", 1.0, 2024), (2, "EMEA", 2.0, 2025)],
        "id long, region string, amount double, yr int",
    ).write.mode("overwrite").partitionBy("yr").parquet(loc)
    eng.sql("GRANT SELECT ON sales_db.sales TO a7", "ops")
    eng.catalog.save()
    cat2 = GovernedCatalog.load(spark, str(tmp_path))
    cat2.set_admins(["ops"])
    eng2 = Engine(spark, cat2)
    td = cat2.tables["sales_db.sales"]
    assert td.column_comments["id"] == "pk"
    assert td.partition_keys == ("yr",)
    assert eng2.sql(
        "SELECT count(*) AS n FROM sales_db.sales", "a7"
    ).first().n == 2
    # DROP in the reloaded catalog still strips grants
    eng2.sql("DROP TABLE sales_db.sales", "ops")
    assert not [
        g for g in cat2.grants
        if g.database == "sales_db" and g.resource == "sales"
    ]


def test_drop_column_metadata_only(eng, spark, tmp_path):
    """ALTER TABLE DROP COLUMN (round 13): the declared schema shrinks,
    data files are untouched, reads stop projecting the column, and
    every referencing object fail-closes the drop."""
    loc = _declare(eng, tmp_path)
    spark.createDataFrame(
        [(1, "APAC", 10.0, 2024), (2, "EMEA", 20.0, 2024)],
        "id long, region string, amount double, yr int",
    ).write.mode("overwrite").partitionBy("yr").parquet(loc)
    r = eng.sql(
        "ALTER TABLE sales_db.sales DROP COLUMN amount", "ops"
    ).first()
    assert r.dropped_column == "amount"
    td = eng.catalog.tables["sales_db.sales"]
    assert [f.name for f in td.schema.fields] == ["id", "region", "yr"]
    # reads work and no longer see the column; data files untouched
    got = eng.sql("SELECT * FROM sales_db.sales", "ops")
    assert got.columns == ["id", "region", "yr"]
    assert got.count() == 2
    import glob

    assert glob.glob(f"{loc}/yr=*/**/*.parquet", recursive=True)
    # the SHOW CREATE TABLE DDL no longer mentions it
    ddl = eng.sql("SHOW CREATE TABLE sales_db.sales", "ops").first().ddl
    assert "amount" not in ddl
    # partition key refuses
    with pytest.raises(ValueError, match="partition key"):
        eng.sql("ALTER TABLE sales_db.sales DROP COLUMN yr", "ops")
    # non-admin (no ALL) denied through the maintain gate
    eng.sql("GRANT SELECT ON sales_db.sales TO a8", "ops")
    with pytest.raises(PermissionDeniedError):
        eng.sql("ALTER TABLE sales_db.sales DROP COLUMN region", "a8")


def test_drop_column_fail_closes_on_references(eng, spark, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        DataCellsFilter,
    )

    loc = _declare(eng, tmp_path)
    spark.createDataFrame(
        [(1, "APAC", 10.0, 2024)],
        "id long, region string, amount double, yr int",
    ).write.mode("overwrite").partitionBy("yr").parquet(loc)
    # view referencing the column
    eng.sql(
        "CREATE VIEW sales_db.v AS SELECT amount FROM sales_db.sales",
        "ops",
    )
    with pytest.raises(ValueError, match="view"):
        eng.sql("ALTER TABLE sales_db.sales DROP COLUMN amount", "ops")
    eng.sql("DROP VIEW sales_db.v", "ops")
    # data-cells filter referencing the column (allowlist AND predicate)
    eng.catalog.create_data_cells_filter(
        DataCellsFilter("f1", "sales_db", "sales", ("id", "amount"), None)
    )
    with pytest.raises(ValueError, match="filter"):
        eng.sql("ALTER TABLE sales_db.sales DROP COLUMN amount", "ops")
    del eng.catalog.filters["f1"]
    eng.catalog.create_data_cells_filter(
        DataCellsFilter("f2", "sales_db", "sales", None, "amount > 5")
    )
    with pytest.raises(ValueError, match="filter"):
        eng.sql("ALTER TABLE sales_db.sales DROP COLUMN amount", "ops")
    del eng.catalog.filters["f2"]
    # after clearing the references the drop proceeds
    assert eng.sql(
        "ALTER TABLE sales_db.sales DROP COLUMN amount", "ops"
    ).first().dropped_column == "amount"
    # the only-column guard
    eng.sql("ALTER TABLE sales_db.sales DROP COLUMN region", "ops")
    eng.sql("ALTER TABLE sales_db.sales DROP COLUMN id", "ops")
    with pytest.raises(ValueError, match="only column"):
        eng.sql("ALTER TABLE sales_db.sales DROP COLUMN yr", "ops")


def test_drop_column_mv_and_constraint_refuse(eng, spark, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        add_constraint,
    )

    eng.sql("CREATE DATABASE db", "ops")
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i) for i in range(8)],
        "id long, grp string, v long",
    )
    loc = f"{tmp_path}/docs"
    publish_overwrite(spark, loc, df, ["grp"])
    eng.catalog.register_table(
        TableDef("db", "docs", loc, schema=df.schema, partition_keys=("grp",))
    )
    eng.create_materialized_view(
        "db.mv", "db.docs", ["grp"],
        {"n": ("count", None), "total": ("sum", "v")},
        principal="ops",
    )
    with pytest.raises(ValueError, match="materialized view"):
        eng.sql("ALTER TABLE db.docs DROP COLUMN v", "ops")
    eng.sql("DROP MATERIALIZED VIEW db.mv", "ops")
    add_constraint(spark, loc, "v_nonneg", "v >= 0")
    with pytest.raises(ValueError, match="constraint"):
        eng.sql("ALTER TABLE db.docs DROP COLUMN v", "ops")


def test_show_create_table_redacts_partition_keys(eng, tmp_path):
    """Review fix (r13): a partition key outside every grant rectangle
    must not leak through the PARTITIONED BY clause — same rule as
    data columns."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        DataCellsFilter,
    )

    _declare(eng, tmp_path)
    eng.catalog.create_data_cells_filter(
        DataCellsFilter("no_yr", "sales_db", "sales", ("id", "region"), None)
    )
    eng.catalog.grant(
        "p9", "SELECT", "sales_db", "sales", via_filter="no_yr"
    )
    ddl = eng.sql("SHOW CREATE TABLE sales_db.sales", "p9").first().ddl
    assert "yr" not in ddl and "PARTITIONED BY" not in ddl
    # an admin still sees it, with the partition comment rendered
    eng.sql("DROP TABLE sales_db.sales", "ops")
    eng.sql(
        "CREATE EXTERNAL TABLE sales_db.sales (id bigint) "
        "PARTITIONED BY (yr int COMMENT 'fiscal year') "
        f"LOCATION '{tmp_path}/sales'",
        "ops",
    )
    ddl = eng.sql("SHOW CREATE TABLE sales_db.sales", "ops").first().ddl
    assert "PARTITIONED BY (yr int COMMENT 'fiscal year')" in ddl
    assert eng.catalog.tables["sales_db.sales"].column_comments["yr"] == (
        "fiscal year"
    )


def test_drop_table_refuses_under_dependent_view(eng, spark, tmp_path):
    """Review fix (r13): DROP TABLE fail-closes on referencing VIEWS
    (not just MVs) — a dangling view keeps its grants, and a later
    re-register under the same name would serve new data to
    principals vetted only for the old table."""
    loc = _declare(eng, tmp_path)
    spark.createDataFrame(
        [(1, "APAC", 1.0, 2024)],
        "id long, region string, amount double, yr int",
    ).write.mode("overwrite").partitionBy("yr").parquet(loc)
    eng.sql(
        "CREATE VIEW sales_db.v AS SELECT id FROM sales_db.sales", "ops"
    )
    with pytest.raises(ValueError, match="view"):
        eng.sql("DROP TABLE sales_db.sales", "ops")
    eng.sql("DROP VIEW sales_db.v", "ops")
    assert eng.sql("DROP TABLE sales_db.sales", "ops").first().dropped


def test_provisioning_script_end_to_end(eng, spark, tmp_path):
    """The reference's whole provisioning flow (terraform apply +
    console DDL + permission grants, README.md:109-151) as ONE
    sql_script: database, table, grant, insert, select — each
    statement individually gated and audited under one span."""
    outs = eng.sql_script(
        f"""
        CREATE DATABASE IF NOT EXISTS sales_db;
        CREATE EXTERNAL TABLE sales_db.sales (
          id bigint COMMENT 'pk', region string, amount double)
          PARTITIONED BY (yr int) STORED AS PARQUET
          LOCATION '{tmp_path}/sales';
        GRANT SELECT ON sales_db.sales TO script_analyst;
        INSERT INTO sales_db.sales VALUES
          (1, 'APAC', 10.0, 2024), (2, 'EMEA', 20.0, 2024);
        SELECT count(*) AS n FROM sales_db.sales;
        """,
        "ops",
    )
    assert outs[-1].first().n == 2
    # the script-granted principal reads immediately
    assert eng.sql(
        "SELECT count(*) AS n FROM sales_db.sales", "script_analyst"
    ).first().n == 2


def test_create_table_like(eng, spark, tmp_path):
    """CREATE TABLE LIKE: structure copies (schema, partition keys,
    comments, tags, pending quarantine), data and policy objects do
    not; the usual data-location gate applies."""
    loc = _declare(eng, tmp_path)
    spark.createDataFrame(
        [(1, "APAC", 1.0, 2024)],
        "id long, region string, amount double, yr int",
    ).write.mode("overwrite").partitionBy("yr").parquet(loc)
    eng.catalog.create_tag("pii", ["sensitive", "clear"])
    eng.catalog.tag_columns("sales_db.sales", ["region"], "pii", "sensitive")
    r = eng.sql(
        f"CREATE TABLE sales_db.sales2 LIKE sales_db.sales "
        f"LOCATION '{tmp_path}/sales2'",
        "ops",
    ).first()
    assert r.created
    t2 = eng.catalog.tables["sales_db.sales2"]
    src = eng.catalog.tables["sales_db.sales"]
    assert t2.schema == src.schema
    assert t2.partition_keys == src.partition_keys
    assert t2.column_comments == src.column_comments
    assert t2.column_tags == src.column_tags
    # empty: no data copied; the declared-schema scan of the empty
    # location yields zero rows
    assert eng.sql(
        "SELECT count(*) AS n FROM sales_db.sales2", "ops"
    ).first().n == 0
    # IF NOT EXISTS no-op; non-admin denied; unknown source refuses
    assert not eng.sql(
        f"CREATE TABLE IF NOT EXISTS sales_db.sales2 LIKE sales_db.sales "
        f"LOCATION '{tmp_path}/x'",
        "ops",
    ).first().created
    with pytest.raises(PermissionDeniedError):
        eng.sql(
            f"CREATE TABLE sales_db.h LIKE sales_db.sales "
            f"LOCATION '{tmp_path}/h'",
            "analyst",
        )
    with pytest.raises(KeyError):
        eng.sql(
            f"CREATE TABLE sales_db.g LIKE sales_db.ghost "
            f"LOCATION '{tmp_path}/g'",
            "ops",
        )


def test_describe_database(eng, tmp_path):
    _declare(eng, tmp_path)
    eng.sql("GRANT SELECT ON sales_db.sales TO dd1", "ops")
    r = eng.sql("DESCRIBE DATABASE sales_db", "ops").first()
    assert (r.database, r.n_tables_visible) == ("sales_db", 1)
    # visibility follows grants: dd1 sees 1, a stranger sees 0
    assert eng.sql(
        "DESCRIBE SCHEMA sales_db", "dd1"
    ).first().n_tables_visible == 1
    assert eng.sql(
        "DESCRIBE DATABASE sales_db", "stranger"
    ).first().n_tables_visible == 0
    with pytest.raises(KeyError):
        eng.sql("DESCRIBE DATABASE nodb", "ops")
