"""Round-10 governed SQL-statement surface: parser grammar, DML verbs
(MERGE/UPDATE/DELETE), maintenance verbs (OPTIMIZE/VACUUM), the MV
lifecycle as SQL, grant-aware SHOW/DESCRIBE, and the update_rows lake
primitive — the reference's actual interface is SQL strings through a
workgroup (validate.sh:74-87), so every verb here must compose with
grants + audit exactly like the Python API it routes to."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark import (
    Engine,
    PermissionDeniedError,
)
from tf_aws_lakeformation_governed_datalake_demo_spark import fixtures as fx
from tf_aws_lakeformation_governed_datalake_demo_spark.statements import (
    CreateMVStatement,
    DeleteStatement,
    DescribeHistoryStatement,
    DescribeStatement,
    MergeStatement,
    OptimizeStatement,
    RefreshMVStatement,
    ShowPartitionsStatement,
    ShowTablesStatement,
    UnsupportedStatementError,
    UpdateStatement,
    VacuumStatement,
    parse_statement,
)


# ------------------------------------------------------------- parser
def test_queries_pass_through():
    assert parse_statement("SELECT 1") is None
    assert parse_statement("  WITH x AS (SELECT 1) SELECT * FROM x") is None
    assert parse_statement("VALUES (1, 2)") is None
    assert parse_statement("(SELECT 1)") is None
    assert parse_statement("-- note\nSELECT 1;") is None


def test_parse_update_literal_aware():
    s = parse_statement(
        "UPDATE db.t SET note = 'where it began', amt = amt + 1 "
        "WHERE grp = 'where'"
    )
    assert isinstance(s, UpdateStatement)
    assert s.target == "db.t"
    assert dict(s.assignments) == {
        "note": "'where it began'",
        "amt": "amt + 1",
    }
    assert s.predicate == "grp = 'where'"


def test_parse_update_requires_where():
    with pytest.raises(UnsupportedStatementError, match="WHERE"):
        parse_statement("UPDATE db.t SET a = 1")


def test_parse_set_commas_inside_functions():
    s = parse_statement(
        "UPDATE db.t SET a = coalesce(b, c, 1), d = greatest(e, 2) WHERE TRUE"
    )
    assert dict(s.assignments) == {
        "a": "coalesce(b, c, 1)",
        "d": "greatest(e, 2)",
    }


def test_parse_delete_requires_where():
    with pytest.raises(UnsupportedStatementError, match="WHERE"):
        parse_statement("DELETE FROM db.t")
    s = parse_statement("DELETE FROM db.t WHERE id = 3")
    assert isinstance(s, DeleteStatement) and s.predicate == "id = 3"


def test_parse_merge_full_form():
    s = parse_statement(
        "MERGE INTO db.tgt AS t USING (SELECT * FROM db.src) AS s "
        "ON t.k1 = s.k1 AND s.k2 = t.k2 "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert isinstance(s, MergeStatement)
    assert s.target == "db.tgt"
    assert s.key_cols == ("k1", "k2")
    assert s.source_sql == "SELECT * FROM db.src"


def test_parse_merge_table_source():
    s = parse_statement(
        "MERGE INTO db.tgt t USING db.src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert s.source_sql == "SELECT * FROM db.src"


def test_parse_merge_rejects_partial_clauses():
    with pytest.raises(UnsupportedStatementError, match="replace-by-key"):
        parse_statement(
            "MERGE INTO db.tgt t USING db.src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET a = 1"
        )


def test_parse_merge_rejects_mismatched_keys():
    with pytest.raises(UnsupportedStatementError, match="same name"):
        parse_statement(
            "MERGE INTO db.tgt t USING db.src s ON t.id = s.other "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )


def test_parse_optimize_and_vacuum():
    s = parse_statement("OPTIMIZE db.t")
    assert isinstance(s, OptimizeStatement) and s.mode == "binpack"
    s = parse_statement("OPTIMIZE db.t REWRITE DATA USING BIN_PACK")
    assert s.mode == "binpack"
    s = parse_statement("OPTIMIZE db.t CLUSTER BY (a, b)")
    assert s.mode == "cluster" and s.cluster_by == ("a", "b")
    s = parse_statement("VACUUM db.t RETAIN 3 SNAPSHOTS")
    assert isinstance(s, VacuumStatement) and s.keep_last == 3
    # bare VACUUM would truncate history to the head snapshot — the
    # destructive setting must be asked for (round-10 ADVICE)
    with pytest.raises(UnsupportedStatementError, match="RETAIN"):
        parse_statement("VACUUM db.t")
    with pytest.raises(UnsupportedStatementError, match="at least 1"):
        parse_statement("VACUUM db.t RETAIN 0 SNAPSHOTS")


def test_parse_mv_statements():
    s = parse_statement(
        "CREATE MATERIALIZED VIEW db.mv AS SELECT g, count(*) AS n, "
        "sum(x) AS sx, avg(y) AS ay FROM db.src GROUP BY g"
    )
    assert isinstance(s, CreateMVStatement)
    assert s.group_by == ("g",)
    assert s.measures == (("n", "count", None), ("sx", "sum", "x"), ("ay", "avg", "y"))
    assert isinstance(
        parse_statement("REFRESH MATERIALIZED VIEW db.mv"), RefreshMVStatement
    )
    d = parse_statement("DROP MATERIALIZED VIEW db.mv PURGE")
    assert d.purge is True


def test_parse_mv_rejects_min_max():
    with pytest.raises(UnsupportedStatementError, match="incrementally-refreshable"):
        parse_statement(
            "CREATE MATERIALIZED VIEW db.mv AS SELECT g, count(*) AS n, "
            "min(x) AS mx FROM db.src GROUP BY g"
        )


def test_parse_mv_rejects_duplicate_aliases():
    # duplicate measure aliases would silently drop a measure in the
    # {out: (agg, col)} dispatch (round-10 ADVICE)
    with pytest.raises(UnsupportedStatementError, match="duplicate MV"):
        parse_statement(
            "CREATE MATERIALIZED VIEW db.mv AS SELECT g, count(*) AS n, "
            "sum(x) AS n FROM db.src GROUP BY g"
        )
    # a measure alias shadowing a GROUP BY column is ambiguous the same way
    with pytest.raises(UnsupportedStatementError, match="duplicate MV"):
        parse_statement(
            "CREATE MATERIALIZED VIEW db.mv AS SELECT g, count(*) AS g "
            "FROM db.src GROUP BY g"
        )


def test_parse_ctas_multi_element_array():
    # _top_level is bracket-aware: the comma inside ARRAY[...] must not
    # split the WITH-property list (round-10 ADVICE)
    s = parse_statement(
        "CREATE TABLE db.t WITH (external_location = '/tmp/x', "
        "partitioned_by = ARRAY['a', 'b']) AS SELECT 1"
    )
    assert s.partitioned_by == ("a", "b")
    u = parse_statement(
        "UNLOAD (SELECT 1) TO '/tmp/y' WITH (format = 'PARQUET', "
        "partitioned_by = ARRAY['a', 'b'])"
    )
    assert u.partitioned_by == ("a", "b")


def test_parse_rejects_scalar_partitioned_by():
    # the scalar form would iterate per-character into ('l','a','n','g')
    # and surface as an unknown-column error downstream (round-10 ADVICE)
    with pytest.raises(UnsupportedStatementError, match="ARRAY"):
        parse_statement(
            "CREATE TABLE db.t WITH (external_location = '/tmp/x', "
            "partitioned_by = 'lang') AS SELECT 1"
        )
    with pytest.raises(UnsupportedStatementError, match="ARRAY"):
        parse_statement(
            "UNLOAD (SELECT 1) TO '/tmp/y' WITH (partitioned_by = 'lang')"
        )


def test_parse_show_describe():
    assert isinstance(parse_statement("SHOW TABLES"), ShowTablesStatement)
    assert parse_statement("SHOW TABLES IN sales_db").database == "sales_db"
    assert isinstance(
        parse_statement("SHOW PARTITIONS db.t"), ShowPartitionsStatement
    )
    assert isinstance(parse_statement("DESCRIBE db.t"), DescribeStatement)
    assert isinstance(parse_statement("DESC TABLE db.t"), DescribeStatement)
    assert isinstance(
        parse_statement("DESCRIBE HISTORY db.t"), DescribeHistoryStatement
    )


def test_unknown_verbs_fail_closed():
    for bad in (
        # INSERT OVERWRITE <db.t> is governed since round 12; the
        # DIRECTORY form (ungoverned filesystem write) stays refused
        "INSERT OVERWRITE DIRECTORY '/x' SELECT 1",
        # column-list CREATE TABLE is governed since round 13 — but
        # only the external LOCATION form; a managed table is refused
        "CREATE TABLE db.t (a INT)",
        "ALTER TABLE db.t ADD COLUMN x INT",
        # GRANT is governed since round 13; grant-option escalation
        # and unknown permissions stay refused
        "GRANT SELECT ON db.t TO analyst WITH GRANT OPTION",
        "GRANT INSERT ON db.t TO analyst",
        # TRUNCATE TABLE and MSCK REPAIR are governed since round 14;
        # malformed forms still refuse
        "TRUNCATE TABLE db.t PARTITION (lang='en')",
        "MSCK REPAIR TABLE db.t ADD PARTITIONS",
    ):
        with pytest.raises(UnsupportedStatementError):
            parse_statement(bad)


def test_parse_view_insert_prepare_statements():
    from tf_aws_lakeformation_governed_datalake_demo_spark.statements import (
        CreateViewStatement,
        DropViewStatement,
        ExecuteStatement,
        InsertStatement,
        PrepareStatement,
    )

    s = parse_statement(
        "CREATE OR REPLACE VIEW db.v AS SELECT a, b FROM db.t"
    )
    assert isinstance(s, CreateViewStatement)
    assert s.view == "db.v" and s.or_replace
    assert s.select_sql == "SELECT a, b FROM db.t"
    assert not parse_statement("CREATE VIEW db.v AS SELECT 1").or_replace
    with pytest.raises(UnsupportedStatementError, match="view body"):
        parse_statement("CREATE VIEW db.v AS DELETE FROM db.t WHERE TRUE")

    d = parse_statement("DROP VIEW IF EXISTS db.v")
    assert isinstance(d, DropViewStatement) and d.if_exists
    assert not parse_statement("DROP VIEW db.v").if_exists

    i = parse_statement("INSERT INTO db.t (a, b) VALUES (1, 'x'), (2, 'y')")
    assert isinstance(i, InsertStatement)
    assert i.columns == ("a", "b")
    assert i.source_sql.startswith("VALUES")
    i2 = parse_statement("INSERT INTO db.t SELECT * FROM db.s")
    assert i2.columns == () and i2.source_sql == "SELECT * FROM db.s"
    with pytest.raises(UnsupportedStatementError, match="duplicate column"):
        parse_statement("INSERT INTO db.t (a, a) VALUES (1, 2)")

    p = parse_statement("PREPARE q1 FROM SELECT * FROM db.t WHERE a = ?")
    assert isinstance(p, PrepareStatement)
    assert p.name == "q1" and p.statement_sql.endswith("a = ?")
    e = parse_statement("EXECUTE q1 USING 3, 'it''s', TRUE, NULL, 1.5")
    assert isinstance(e, ExecuteStatement)
    assert e.params == (3, "it's", True, None, 1.5)
    assert parse_statement("EXECUTE q1").params == ()
    with pytest.raises(UnsupportedStatementError, match="not a literal"):
        parse_statement("EXECUTE q1 USING a + 1")


# -------------------------------------------------- engine integration
@pytest.fixture()
def engine(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("sqlstmt"))
    return Engine(spark, fx.bootstrap(spark, lake))


def test_sql_update_delete_roundtrip(engine):
    u = engine.sql(
        "UPDATE sales_db.sales SET sales_amount = sales_amount + 10 "
        "WHERE sales_region = 'EMEA'",
        "dataadmin",
    ).first()
    assert u.rows_updated == 6
    d = engine.sql(
        "DELETE FROM sales_db.sales WHERE sales_region = 'AMER'", "dataadmin"
    ).first()
    assert d.rows_deleted == 6
    n = engine.sql(
        "SELECT count(*) AS n FROM sales_db.sales", "dataadmin"
    ).first()
    assert n.n == 14


def test_sql_dml_denied_for_filtered_principal(engine):
    # the analyst holds a conditioned SELECT — writes must be refused
    # and the refusal audited
    for stmt in (
        "UPDATE sales_db.sales SET sales_amount = 0 WHERE TRUE",
        "DELETE FROM sales_db.sales WHERE TRUE",
        "MERGE INTO sales_db.sales t USING sales_db.sales s "
        "ON t.customer_id = s.customer_id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    ):
        with pytest.raises(PermissionDeniedError):
            engine.sql(stmt, "analyst")
    denied = [
        e for e in engine.catalog.audit.events if e["status"] == "denied"
    ]
    assert len(denied) >= 2  # maintain-audited refusals (update/delete)


def test_sql_dml_audits_verbatim_statement(engine):
    engine.sql(
        "DELETE FROM sales_db.sales WHERE customer_id = 'NOPE'", "dataadmin"
    )
    quries = [e["query"] for e in engine.catalog.audit.events]
    # the statement line (verbatim) AND the maintain action line
    assert any("DELETE FROM sales_db.sales" in q for q in quries)
    assert any(
        q.startswith("MAINTAIN delete_rows sales_db.sales") for q in quries
    )


def test_sql_merge_upsert_and_replace(engine):
    m = engine.sql(
        "MERGE INTO sales_db.sales AS t USING ("
        "  SELECT 'CUST0001' AS customer_id, customer_name, customer_email, ssn,"
        "         sales_region, CAST(999.0 AS DOUBLE) AS sales_amount, sale_date"
        "  FROM sales_db.sales WHERE customer_id = 'CUST0001'"
        "  UNION ALL"
        "  SELECT 'C900', 'New Co', 'n@x.com', '000', 'APAC',"
        "         CAST(5.0 AS DOUBLE), DATE '2024-05-05'"
        ") AS s ON t.customer_id = s.customer_id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "dataadmin",
    ).first()
    assert (m.rows_updated, m.rows_inserted) == (1, 1)
    got = engine.sql(
        "SELECT sales_amount FROM sales_db.sales WHERE customer_id = 'CUST0001'",
        "dataadmin",
    ).first()
    assert got.sales_amount == 999.0


def test_sql_merge_missing_columns_is_loud(engine):
    with pytest.raises(Exception, match="every table column"):
        engine.sql(
            "MERGE INTO sales_db.sales t USING (SELECT 'C1' AS customer_id) s"
            " ON t.customer_id = s.customer_id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
            "dataadmin",
        )


def test_sql_statements_never_hit_reuse_cache(engine):
    stmt = (
        "UPDATE sales_db.sales SET sales_amount = sales_amount + 1 "
        "WHERE sales_region = 'APAC'"
    )
    def apac_total():
        return engine.sql(
            "SELECT round(sum(sales_amount), 2) AS s FROM sales_db.sales "
            "WHERE sales_region = 'APAC'",
            "dataadmin",
        ).first().s

    before = apac_total()
    a = engine.sql(stmt, "dataadmin", reuse_max_age=3600).first()
    b = engine.sql(stmt, "dataadmin", reuse_max_age=3600).first()
    assert a.rows_updated == b.rows_updated == 8
    assert engine.metrics["queries_reused"] == 0
    # both executions actually mutated: +8 each, never a cached replay
    assert apac_total() == pytest.approx(before + 16.0)


def test_show_tables_grant_aware(engine):
    assert [r.table for r in engine.sql("SHOW TABLES", "dataadmin").collect()] == [
        "sales"
    ]
    assert [r.table for r in engine.sql("SHOW TABLES", "analyst").collect()] == [
        "sales"
    ]
    assert engine.sql("SHOW TABLES", "nobody").collect() == []
    assert engine.sql("SHOW TABLES IN other_db", "dataadmin").collect() == []


def test_describe_redacts_conditioned_columns(engine):
    full = [
        r.col_name
        for r in engine.sql("DESCRIBE sales_db.sales", "dataadmin").collect()
    ]
    assert {"customer_email", "ssn"} <= set(full)
    redacted = [
        r.col_name
        for r in engine.sql("DESCRIBE sales_db.sales", "analyst").collect()
    ]
    assert "ssn" not in redacted and "customer_email" not in redacted
    assert "customer_id" in redacted
    with pytest.raises(PermissionDeniedError):
        engine.sql("DESCRIBE sales_db.sales", "nobody")
    # column comments surface (Glue comment analog)
    cmt = {
        r.col_name: r.comment
        for r in engine.sql("DESCRIBE sales_db.sales", "dataadmin").collect()
    }
    assert any(v for v in cmt.values())


def test_show_partitions_and_describe_history(spark, tmp_path_factory):
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
    )

    lake = str(tmp_path_factory.mktemp("showpart"))
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    d = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], i) for i in range(10)],
        "id long, grp string, v long",
    )
    publish_overwrite(spark, f"{lake}/t", d, ["grp"])
    cat.register_table(
        TableDef("db", "t", f"{lake}/t", schema=d.schema, partition_keys=("grp",))
    )
    eng = Engine(spark, cat)
    parts = [r.partition for r in eng.sql("SHOW PARTITIONS db.t", "ops").collect()]
    assert parts == ["grp=a", "grp=b"]
    hist = eng.sql("DESCRIBE HISTORY db.t", "ops").collect()
    assert [h.version for h in hist] == [1]
    with pytest.raises(PermissionDeniedError):
        eng.sql("SHOW PARTITIONS db.t", "nobody")
    with pytest.raises(PermissionDeniedError):
        eng.sql("DESCRIBE HISTORY db.t", "nobody")


def test_sql_optimize_and_vacuum_statements(spark, tmp_path_factory):
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
        publish_overwrite,
        read_manifest,
    )

    lake = str(tmp_path_factory.mktemp("optstmt"))
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    d = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(100)], "id long, grp int, v double"
    )
    loc = f"{lake}/t"
    publish_overwrite(spark, loc, d.repartition(1), ["grp"])
    for k in range(4):  # fragment with small appends
        append_rows(
            spark,
            loc,
            d.filter(F.col("id") % 4 == k).withColumn("id", F.col("id") + 1000),
            ["grp"],
        )
    eng = Engine(spark, cat)
    cat.register_table(
        TableDef("db", "t", loc, schema=d.schema, partition_keys=("grp",))
    )
    files_before = len(read_manifest(loc)["files"])
    r = eng.sql("OPTIMIZE db.t", "ops").first()
    assert r.files_after < files_before
    n = eng.sql("SELECT count(*) AS n FROM db.t", "ops").first().n
    assert n == 200
    v = eng.sql("VACUUM db.t RETAIN 1 SNAPSHOTS", "ops").first()
    assert v.snapshots_removed >= 1
    # non-admin denied
    with pytest.raises(PermissionDeniedError):
        eng.sql("OPTIMIZE db.t", "nobody")


def test_sql_mv_lifecycle_with_avg(spark, tmp_path_factory):
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        delete_rows_mor,
        merge_into,
        publish_overwrite,
        read_table,
    )

    lake = str(tmp_path_factory.mktemp("mvstmt"))
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    d = spark.createDataFrame(
        [
            (i, ["en", "fr"][i % 2], float(i) if i % 7 else None, i)
            for i in range(40)
        ],
        "id long, lang string, score double, n long",
    )
    loc = f"{lake}/docs"
    publish_overwrite(spark, loc, d, ["lang"])
    cat.register_table(
        TableDef("db", "docs", loc, schema=d.schema, partition_keys=("lang",))
    )
    eng = Engine(spark, cat)
    eng.sql(
        "CREATE MATERIALIZED VIEW db.mv AS SELECT lang, count(*) AS n_docs, "
        "sum(n) AS total_n, avg(score) AS avg_score FROM db.docs GROUP BY lang",
        "ops",
    )
    # the MV name is a view; the state table holds the complement pair
    assert "db.mv" in cat.views and "db.mv__state" in cat.tables
    state_cols = set(cat.tables["db.mv__state"].schema.fieldNames())
    assert {"__sum_avg_score", "__n_avg_score"} <= state_cols
    # mutate: MoR delete + update merge (delete+insert pairs in the feed)
    delete_rows_mor(spark, loc, "id % 5 = 0")
    upd = d.filter((F.col("id") % 5 != 0) & (F.col("id") % 3 == 0)).withColumn(
        "score", F.col("score") + 50
    )
    merge_into(spark, loc, upd, ["id"], ["lang"], collect_stats=False)
    r = eng.sql("REFRESH MATERIALIZED VIEW db.mv", "ops").first()
    assert r.refreshed
    got = {
        x.lang: x
        for x in eng.sql("SELECT * FROM db.mv", "ops").collect()
    }
    want = {
        x.lang: x
        for x in read_table(spark, loc)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_n"),
            F.avg("score").alias("avg_score"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k].n_docs == want[k].n_docs
        assert got[k].total_n == want[k].total_n
        assert abs(got[k].avg_score - want[k].avg_score) < 1e-9
    eng.sql("DROP MATERIALIZED VIEW db.mv PURGE", "ops")
    assert "db.mv" not in cat.views
    assert "db.mv__state" not in cat.tables
    assert "db.mv" not in cat.mvs


def test_mv_state_write_scales_with_groups(spark, tmp_path_factory):
    """Round-9 VERDICT 'what's wrong' #3: a large MV state must not
    serialize through one write task. Pin: with the rows-per-file knob
    lowered, a many-group MV writes >1 state file; the toy MV still
    writes exactly 1."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
        read_manifest,
    )

    lake = str(tmp_path_factory.mktemp("mvscale"))
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    d = spark.createDataFrame(
        [(i, i % 500, i) for i in range(2000)], "id long, grp long, v long"
    )
    loc = f"{lake}/t"
    publish_overwrite(spark, loc, d, None)
    cat.register_table(TableDef("db", "t", loc, schema=d.schema))
    eng = Engine(spark, cat)
    eng.mv_state_rows_per_file = 100  # 500 groups -> 5 files
    eng.create_materialized_view(
        "db.big", "db.t", ["grp"], {"n": ("count", None)}, principal="ops"
    )
    mv = cat.mvs["db.big"]
    assert len(read_manifest(mv.location)["files"]) == 5
    # toy MV (one group value) still writes one file
    eng.mv_state_rows_per_file = 1_000_000
    eng.create_materialized_view(
        "db.toy",
        "db.t",
        ["grp"],
        {"n": ("count", None)},
        principal="ops",
    )
    assert len(read_manifest(cat.mvs["db.toy"].location)["files"]) == 1


# ------------------------------------------------ update_rows primitive
def test_update_rows_three_valued_logic(spark, tmp_path_factory):
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
        read_table,
        update_rows,
    )

    path = str(tmp_path_factory.mktemp("updnull") / "t")
    d = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "id long, v double"
    )
    publish_overwrite(spark, path, d, None)
    # predicate NULL on id=2 -> NOT matched -> kept untouched
    r = update_rows(spark, path, {"v": "0.0"}, "v > 15")
    assert r["rows_updated"] == 1
    rows = {x.id: x.v for x in read_table(spark, path).collect()}
    assert rows == {1: 10.0, 2: None, 3: 0.0}


def test_update_rows_refuses_partition_col_and_bad_col(spark, tmp_path_factory):
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
        update_rows,
    )

    path = str(tmp_path_factory.mktemp("updguard") / "t")
    d = spark.createDataFrame([(1, "a", 1.0)], "id long, grp string, v double")
    publish_overwrite(spark, path, d, ["grp"])
    with pytest.raises(ValueError, match="partition column"):
        update_rows(spark, path, {"grp": "'b'"}, "TRUE", partition_col="grp")
    with pytest.raises(ValueError, match="unknown column"):
        update_rows(spark, path, {"nope": "1"}, "TRUE", partition_col="grp")
    with pytest.raises(ValueError, match="hive-partitioned"):
        update_rows(spark, path, {"v": "2.0"}, "TRUE")


def test_update_rows_time_travel_preserved(spark, tmp_path_factory):
    """UPDATE is a mutation, not erasure: prior snapshots stay
    readable and table_changes shows the delete+insert pair."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
        read_table,
        update_rows,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        table_changes,
    )

    path = str(tmp_path_factory.mktemp("updtt") / "t")
    d = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], float(i)) for i in range(10)],
        "id long, grp string, v double",
    )
    publish_overwrite(spark, path, d, ["grp"])
    update_rows(spark, path, {"v": "v * 10"}, "id = 4", partition_col="grp")
    old = read_table(spark, path, version=1)
    assert {x.v for x in old.filter(F.col("id") == 4).collect()} == {4.0}
    new = read_table(spark, path)
    assert {x.v for x in new.filter(F.col("id") == 4).collect()} == {40.0}
    feed = table_changes(spark, path, 1, 2, d.schema)
    changes = {
        (x._change_type, x.v)
        for x in feed.filter(F.col("id") == 4).collect()
    }
    assert changes == {("delete", 4.0), ("insert", 40.0)}


def test_update_rows_pending_column_fail_close(spark, tmp_path_factory):
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
    )

    lake = str(tmp_path_factory.mktemp("updpend"))
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    d = spark.createDataFrame([(1, 1.0, "x")], "id long, v double, secret string")
    publish_overwrite(spark, f"{lake}/t", d, None)
    td = TableDef("db", "t", f"{lake}/t", schema=d.schema)
    td.pending_columns = {"secret"}
    cat.register_table(td)
    eng = Engine(spark, cat)
    with pytest.raises(PermissionDeniedError, match="pending"):
        eng.sql("UPDATE db.t SET v = 2.0 WHERE secret = 'x'", "ops")
    with pytest.raises(PermissionDeniedError, match="pending"):
        eng.sql("UPDATE db.t SET secret = 'y' WHERE id = 1", "ops")


def test_merge_pending_column_fail_close(spark, tmp_path_factory):
    """MERGE rewrites whole rows, so it fail-closes on pending columns
    like UPDATE/DELETE do, and records a MAINTAIN-style audit line
    (round-10 ADVICE)."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
        read_table,
    )

    lake = str(tmp_path_factory.mktemp("mergepend"))
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    d = spark.createDataFrame(
        [(1, 1.0, "x")], "id long, v double, secret string"
    )
    publish_overwrite(spark, f"{lake}/t", d, None)
    td = TableDef("db", "t", f"{lake}/t", schema=d.schema)
    td.pending_columns = {"secret"}
    cat.register_table(td)
    eng = Engine(spark, cat)
    merge = (
        "MERGE INTO db.t AS t USING ("
        "  SELECT id, v + 1 AS v, secret FROM db.t"
        ") AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    with pytest.raises(PermissionDeniedError, match="pending"):
        eng.sql(merge, "ops")
    # denial audited in the MAINTAIN shape, table untouched
    denied = [
        e
        for e in eng.catalog.audit.events
        if e["status"] == "denied" and "merge_into db.t" in e["query"]
    ]
    assert denied and "pending" in denied[0]["error"]
    assert read_table(spark, f"{lake}/t").first().v == 1.0
    # approval releases the column; the merge then audits a MAINTAIN ok
    td.pending_columns = set()
    r = eng.sql(merge, "ops").first()
    assert r.rows_updated == 1
    assert any(
        e["status"] == "ok"
        and e["query"] == "MAINTAIN merge_into db.t ON (id)"
        for e in eng.catalog.audit.events
    )


def test_create_view_statement_governed(engine):
    """V1 as SQL (outputs.tf:44-53): the reference's masked-view DDL
    pasted verbatim, plus the two-phase grant flow (main.tf:538-549)."""
    r = engine.sql(
        "CREATE OR REPLACE VIEW sales_db.sales_masked2 AS SELECT "
        "customer_id, "
        "REGEXP_REPLACE(customer_email, '^([^@]{1,3}).*@', '***@') "
        "AS customer_email, "
        "REGEXP_REPLACE(ssn, '\\\\d', '*') AS ssn, sales_region "
        "FROM sales_db.sales",
        "dataadmin",
    ).first()
    assert r.view == "sales_db.sales_masked2" and r.replaced is False
    # creator-grant: dataadmin reads its own view immediately
    assert engine.sql(
        "SELECT * FROM sales_db.sales_masked2", "dataadmin"
    ).count() == 20
    # phase 2: the deferred analyst grant; row security composes (V3)
    engine.catalog.grant("analyst", "SELECT", "sales_db", "sales_masked2")
    rows = engine.sql(
        "SELECT * FROM sales_db.sales_masked2", "analyst"
    ).collect()
    assert len(rows) == 8  # APAC only
    assert all(x.customer_email.startswith("***@") for x in rows)
    assert all(set(x.ssn) <= {"*", "-"} for x in rows)
    # plain CREATE VIEW over an existing name refuses; OR REPLACE by a
    # non-owner is denied and audited
    with pytest.raises(ValueError, match="already exists"):
        engine.sql(
            "CREATE VIEW sales_db.sales_masked2 AS SELECT 1 AS one",
            "dataadmin",
        )
    with pytest.raises(PermissionDeniedError, match="ALL grant on the view"):
        engine.sql(
            "CREATE OR REPLACE VIEW sales_db.sales_masked2 AS "
            "SELECT 1 AS one",
            "analyst",
        )
    # the body is validated as the SUBMITTING principal: implicit deny
    # on referenced tables applies at CREATE time
    with pytest.raises(PermissionDeniedError):
        engine.sql(
            "CREATE VIEW sales_db.leak AS SELECT * FROM sales_db.sales",
            "nobody",
        )
    with pytest.raises(ValueError, match="recursive"):
        engine.sql(
            "CREATE OR REPLACE VIEW sales_db.sales_masked2 AS "
            "SELECT * FROM sales_db.sales_masked2",
            "dataadmin",
        )


def test_drop_view_statement_governed(engine):
    # IF EXISTS on a missing view is a no-op row, not an error
    r = engine.sql("DROP VIEW IF EXISTS sales_db.nope", "dataadmin").first()
    assert r.dropped is False
    with pytest.raises(KeyError):
        engine.sql("DROP VIEW sales_db.nope", "dataadmin")
    # the analyst (SELECT on the view) may not drop it — audited denial
    with pytest.raises(PermissionDeniedError, match="ALL grant on the view"):
        engine.sql("DROP VIEW sales_db.sales_masked", "analyst")
    assert any(
        e["status"] == "denied" and "DROP VIEW sales_db.sales_masked" in e["query"]
        for e in engine.catalog.audit.events
    )
    # dataadmin holds ALL on the view (bootstrap): the reference's
    # cleanup step (README.md:320)
    r = engine.sql("DROP VIEW sales_db.sales_masked", "dataadmin").first()
    assert r.dropped is True
    assert "sales_db.sales_masked" not in engine.catalog.views


def test_insert_statement_values_and_select(engine):
    """INSERT INTO as a governed statement: VALUES and SELECT forms,
    positional mapping, NULL fill for unnamed columns, write gate."""
    r = engine.sql(
        "INSERT INTO sales_db.sales VALUES "
        "('CUST021', 'New One', 'n1@x.com', '111-22-3333', 'APAC', "
        "10.5, '2024-03-01'), "
        "('CUST022', 'New Two', 'n2@x.com', '222-33-4444', 'EMEA', "
        "20.5, '2024-03-02')",
        "dataadmin",
    ).first()
    assert r.rows_inserted == 2
    assert (
        engine.sql("SELECT count(*) AS n FROM sales_db.sales", "dataadmin")
        .first().n == 22
    )
    # column-list form: unnamed columns land NULL, values cast to the
    # declared types
    r = engine.sql(
        "INSERT INTO sales_db.sales (customer_id, sales_region, "
        "sales_amount) VALUES ('CUST023', 'APAC', 30)",
        "dataadmin",
    ).first()
    assert r.rows_inserted == 1
    row = engine.sql(
        "SELECT * FROM sales_db.sales WHERE customer_id = 'CUST023'",
        "dataadmin",
    ).first()
    assert row.customer_name is None and row.sales_amount == 30.0
    # INSERT ... SELECT reads through the governance rewrite
    r = engine.sql(
        "INSERT INTO sales_db.sales SELECT concat(customer_id, '_COPY'), "
        "customer_name, customer_email, ssn, sales_region, "
        "sales_amount + 1, sale_date FROM sales_db.sales "
        "WHERE customer_id = 'CUST021'",
        "dataadmin",
    ).first()
    assert r.rows_inserted == 1
    # the row-filtered analyst may not write
    with pytest.raises(PermissionDeniedError):
        engine.sql(
            "INSERT INTO sales_db.sales VALUES ('X', 'x', 'x', 'x', "
            "'APAC', 1.0, '2024-01-01')",
            "analyst",
        )
    # arity mismatches are loud
    with pytest.raises(ValueError, match="positionally"):
        engine.sql(
            "INSERT INTO sales_db.sales (customer_id) VALUES ('A', 'B')",
            "dataadmin",
        )
    with pytest.raises(ValueError, match="declared schema"):
        engine.sql(
            "INSERT INTO sales_db.sales (no_such_col) VALUES (1)",
            "dataadmin",
        )


def test_insert_statement_manifest_table(spark, tmp_path_factory):
    """On a manifest table, INSERT lands as a transactional append_rows
    commit — ledgered snapshot, O(batch) cost, rows_inserted from the
    manifest's own footer row counts (no extra count job)."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
        read_manifest,
    )

    lake = str(tmp_path_factory.mktemp("insmanif"))
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    d = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id long, grp string, v double"
    )
    publish_overwrite(spark, f"{lake}/t", d, ["grp"])
    cat.register_table(
        TableDef("db", "t", f"{lake}/t", schema=d.schema,
                 partition_keys=("grp",))
    )
    eng = Engine(spark, cat)
    v0 = read_manifest(f"{lake}/t")["version"]
    r = eng.sql(
        "INSERT INTO db.t VALUES (3, 'a', 3.0), (4, 'c', 4.0)", "ops"
    ).first()
    assert r.rows_inserted == 2 and r.version == v0 + 1
    assert eng.sql("SELECT count(*) AS n FROM db.t", "ops").first().n == 4
    # snapshot history: the pre-insert version still reads 2 rows
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        read_table,
    )

    assert read_table(spark, f"{lake}/t", version=v0).count() == 2


def test_prepare_execute_statements(engine):
    engine.sql(
        "PREPARE by_region FROM SELECT customer_id, sales_amount "
        "FROM sales_db.sales WHERE sales_region = ? "
        "AND sales_amount > ? ORDER BY customer_id",
        "dataadmin",
    )
    rows = engine.sql(
        "EXECUTE by_region USING 'EMEA', 100", "dataadmin"
    ).collect()
    assert rows and all(r.sales_amount > 100 for r in rows)
    # a parameter containing quote-plus-OR stays ONE literal: the
    # classic injection returns zero rows instead of every row
    inj = engine.sql(
        "EXECUTE by_region USING 'EMEA'' OR ''1''=''1', 0", "dataadmin"
    ).collect()
    assert inj == []
    with pytest.raises(KeyError, match="no prepared statement"):
        engine.sql("EXECUTE nope USING 1", "dataadmin")
    # the FILLED statement's own gates apply at EXECUTE time
    engine.sql(
        "PREPARE wipe FROM DELETE FROM sales_db.sales WHERE "
        "sales_region = ?",
        "analyst",
    )
    with pytest.raises(PermissionDeniedError):
        engine.sql("EXECUTE wipe USING 'APAC'", "analyst")


def test_explain_statement_returns_governed_plan(engine):
    rows = engine.sql(
        "EXPLAIN SELECT customer_id FROM sales_db.sales", "analyst"
    ).collect()
    plan = "\n".join(r.plan for r in rows)
    assert "PushedFilters" in plan and "sales_region" in plan
    with pytest.raises(PermissionDeniedError):
        engine.sql("EXPLAIN SELECT * FROM sales_db.sales", "nobody")
    with pytest.raises(Exception, match="queries only"):
        engine.sql(
            "EXPLAIN DELETE FROM sales_db.sales WHERE TRUE", "dataadmin"
        )


def test_alter_rename_column_statement(spark, tmp_path_factory):
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
    )

    lake = str(tmp_path_factory.mktemp("altren"))
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    d = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, amt double")
    publish_overwrite(spark, f"{lake}/t", d, None)
    cat.register_table(TableDef("db", "t", f"{lake}/t", schema=d.schema))
    eng = Engine(spark, cat)
    r = eng.sql(
        "ALTER TABLE db.t RENAME COLUMN amt TO amount", "ops"
    ).first()
    assert (r.old, r.new) == ("amt", "amount")
    got = eng.sql("SELECT sum(amount) AS s FROM db.t", "ops").first()
    assert got.s == 30.0
    with pytest.raises(PermissionDeniedError):
        eng.sql("ALTER TABLE db.t RENAME COLUMN amount TO x", "nobody")


def test_ctas_statement_governed(engine, spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ctasstmt") / "apac")
    r = engine.sql(
        f"CREATE TABLE sales_db.apac_copy WITH ("
        f"external_location = '{out}', format = 'PARQUET') AS "
        "SELECT customer_id, sales_region, sales_amount "
        "FROM sales_db.sales",
        "analyst",
    ).first()
    assert r.table == "sales_db.apac_copy"
    # the analyst's CTAS materialized only their 8 APAC rows
    assert spark.read.parquet(out).count() == 8
    n = engine.sql(
        "SELECT count(*) AS n FROM sales_db.apac_copy", "analyst"
    ).first()
    assert n.n == 8


def test_ctas_statement_partitioned(engine, spark, tmp_path_factory):
    import pathlib

    out = str(tmp_path_factory.mktemp("ctasstmt2") / "byregion")
    engine.sql(
        f"CREATE TABLE sales_db.by_region2 WITH ("
        f"external_location = '{out}', "
        f"partitioned_by = ARRAY['sales_region']) AS "
        "SELECT customer_id, sales_amount, sales_region "
        "FROM sales_db.sales",
        "dataadmin",
    )
    dirs = {p.name for p in pathlib.Path(out).iterdir() if p.is_dir()}
    assert {"sales_region=APAC", "sales_region=EMEA", "sales_region=AMER"} <= dirs


def test_unload_statement(engine, spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("unloadstmt") / "dump")
    r = engine.sql(
        f"UNLOAD (SELECT customer_id, sales_amount FROM sales_db.sales) "
        f"TO '{out}' WITH (format = 'PARQUET')",
        "analyst",
    ).first()
    assert r.path == out
    assert spark.read.parquet(out).count() == 8  # governed subset only
    with pytest.raises(Exception, match="unsupported UNLOAD"):
        engine.sql(
            f"UNLOAD (SELECT 1) TO '{out}2' WITH (format = 'PARQUET', "
            "compression = 'lz4')",
            "dataadmin",
        )


def test_update_rows_rewrites_only_touched_partitions(spark, tmp_path):
    """Scale pin: an UPDATE matching rows in ONE partition must carry
    the other partitions' files by name — never list, read, or rewrite
    them (the 100 TB property delete_rows already pins)."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
        update_rows,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        read_manifest,
    )

    path = str(tmp_path / "t")
    d = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(30)],
        "id long, grp string, v double",
    )
    publish_overwrite(spark, path, d, ["grp"])
    before = {
        f for f in read_manifest(path)["files"] if not f.startswith("grp=a/")
    }
    r = update_rows(
        spark, path, {"v": "v + 1"}, "grp = 'a' AND id < 100",
        partition_col="grp",
    )
    assert r["partitions_rewritten"] == 1
    after = {
        f for f in read_manifest(path)["files"] if not f.startswith("grp=a/")
    }
    assert after == before  # b/c files carried by name, byte-untouched


def test_parse_mv_with_where():
    s = parse_statement(
        "CREATE MATERIALIZED VIEW db.mv AS SELECT g, count(*) AS n "
        "FROM db.src WHERE status = 'active' AND v >= 10 GROUP BY g"
    )
    assert s.where == "status = 'active' AND v >= 10"
    assert s.group_by == ("g",)
    # no WHERE still parses
    assert parse_statement(
        "CREATE MATERIALIZED VIEW db.mv AS SELECT g, count(*) AS n "
        "FROM db.src GROUP BY g"
    ).where is None
    # junk between FROM and GROUP BY is refused
    with pytest.raises(UnsupportedStatementError, match="unrecognized"):
        parse_statement(
            "CREATE MATERIALIZED VIEW db.mv AS SELECT g, count(*) AS n "
            "FROM db.src JOIN db.other ON x = y GROUP BY g"
        )


# ------------------------------- multi-statement scripts (round 11)
def test_split_statements_literal_aware():
    from tf_aws_lakeformation_governed_datalake_demo_spark.statements import (
        split_statements,
    )

    parts = split_statements(
        "UPDATE db.t SET note = 'a; b' WHERE TRUE; -- c; d\n"
        "DELETE FROM db.t WHERE id = 1;;  \n"
        "SELECT 1"
    )
    assert parts == [
        "UPDATE db.t SET note = 'a; b' WHERE TRUE",
        "DELETE FROM db.t WHERE id = 1",
        "SELECT 1",
    ]


def test_sql_script_sequential_and_audit_span(engine):
    results = engine.sql_script(
        "UPDATE sales_db.sales SET sales_amount = sales_amount + 1 "
        "WHERE sales_region = 'EMEA';"
        "SELECT count(*) AS n FROM sales_db.sales WHERE "
        "sales_amount > 1;",
        "dataadmin",
    )
    assert len(results) == 2
    assert results[0].first().rows_updated == 6
    spans = [
        e for e in engine.catalog.audit.events
        if e["query"].startswith("SCRIPT span=") and e["status"] == "ok"
    ]
    assert spans and "statements=2" in spans[-1]["query"]


def test_sql_script_stops_at_first_failure(engine):
    before = engine.sql(
        "SELECT count(*) AS n FROM sales_db.sales", "dataadmin"
    ).first().n
    with pytest.raises(Exception):
        engine.sql_script(
            "DELETE FROM sales_db.sales WHERE sales_region = 'AMER';"
            "SELECT * FROM sales_db.no_such_table;"
            "DELETE FROM sales_db.sales WHERE sales_region = 'EMEA';",
            "dataadmin",
        )
    # statement 1 committed, statement 3 never ran (stop at first failure)
    after = engine.sql(
        "SELECT sales_region, count(*) AS n FROM sales_db.sales "
        "GROUP BY sales_region", "dataadmin"
    ).collect()
    got = {r.sales_region: r.n for r in after}
    assert "AMER" not in got and got["EMEA"] == 6
    assert before - sum(got.values()) == 6
    span = [
        e for e in engine.catalog.audit.events
        if e["query"].startswith("SCRIPT span=") and e["status"] == "failed"
    ]
    assert span and "stopped_at=2" in span[-1]["query"]
    # a denied statement stops the script the same way
    with pytest.raises(PermissionDeniedError):
        engine.sql_script(
            "SELECT * FROM sales_db.sales;"
            "DELETE FROM sales_db.sales WHERE TRUE;",
            "analyst",
        )


# ---------------- ALTER ADD COLUMNS + SHOW DATABASES/VIEWS (round 11)
def test_parse_add_columns():
    from tf_aws_lakeformation_governed_datalake_demo_spark.statements import (
        AddColumnsStatement,
    )

    s = parse_statement(
        "ALTER TABLE db.t ADD COLUMNS (loyalty_tier string COMMENT "
        "'it''s a tier', scores array<int>)"
    )
    assert isinstance(s, AddColumnsStatement)
    assert s.columns == (
        ("loyalty_tier", "string", "it's a tier"),
        ("scores", "array<int>", None),
    )
    with pytest.raises(UnsupportedStatementError, match="duplicate"):
        parse_statement("ALTER TABLE db.t ADD COLUMNS (a int, A string)")
    with pytest.raises(UnsupportedStatementError, match="trailing"):
        parse_statement("ALTER TABLE db.t ADD COLUMNS (a int) garbage")
    with pytest.raises(UnsupportedStatementError):
        parse_statement("ALTER TABLE db.t ADD COLUMNS ()")


def test_alter_add_columns_statement_governed(engine):
    rows = engine.sql(
        "ALTER TABLE sales_db.sales ADD COLUMNS "
        "(loyalty_tier string COMMENT 'customer tier')",
        "dataadmin",
    ).collect()
    assert [(r.col_name, r.status) for r in rows] == [
        ("loyalty_tier", "pending")
    ]
    td = engine.catalog.tables["sales_db.sales"]
    assert "loyalty_tier" in {f.name for f in td.schema.fields}
    assert "loyalty_tier" in td.pending_columns
    # pending = invisible to the conditioned analyst path (quarantine)
    assert "loyalty_tier" not in engine.sql(
        "SELECT * FROM sales_db.sales", "analyst"
    ).columns
    # the filtered-SELECT analyst may not evolve the schema
    with pytest.raises(PermissionDeniedError):
        engine.sql(
            "ALTER TABLE sales_db.sales ADD COLUMNS (x int)", "analyst"
        )
    # a bad DDL type is loud
    with pytest.raises(ValueError, match="cannot parse type"):
        engine.sql(
            "ALTER TABLE sales_db.sales ADD COLUMNS (y no_such_type)",
            "dataadmin",
        )


def test_show_databases_and_views_grant_aware(engine):
    # dataadmin holds grants in sales_db -> sees it; nobody sees nothing
    assert [
        r.database
        for r in engine.sql("SHOW DATABASES", "dataadmin").collect()
    ] == ["sales_db"]
    assert engine.sql("SHOW DATABASES", "nobody").count() == 0
    assert engine.sql("SHOW SCHEMAS", "dataadmin").count() == 1
    # SHOW VIEWS: the analyst holds SELECT on the masked view
    vs = engine.sql("SHOW VIEWS IN sales_db", "analyst").collect()
    assert [(r.database, r.view) for r in vs] == [
        ("sales_db", "sales_masked")
    ]
    assert engine.sql("SHOW VIEWS", "nobody").count() == 0


def test_execute_recursion_refused(engine):
    engine.sql("PREPARE self_ref FROM EXECUTE self_ref", "dataadmin")
    with pytest.raises(ValueError, match="recursive"):
        engine.sql("EXECUTE self_ref", "dataadmin")


def test_describe_view(engine):
    rows = engine.sql("DESCRIBE sales_db.sales_masked", "analyst").collect()
    assert [r.col_name for r in rows] == [
        "customer_id", "customer_name", "customer_email", "ssn",
        "sales_region", "sales_amount", "sale_date",
    ]
    with pytest.raises(PermissionDeniedError):
        engine.sql("DESCRIBE sales_db.sales_masked", "nobody")


# ------------------------------------ inline time travel (round 11)
def test_extract_as_of():
    from tf_aws_lakeformation_governed_datalake_demo_spark.statements import (
        extract_as_of,
    )

    clean, clauses = extract_as_of(
        "SELECT * FROM db.t FOR VERSION AS OF 3 JOIN db.d "
        "FOR TIMESTAMP AS OF '2024-01-01 00:00:00' ON TRUE"
    )
    assert clean == "SELECT * FROM db.t JOIN db.d ON TRUE"
    assert clauses == {
        "db.t": ("version", 3),
        "db.d": ("timestamp", "2024-01-01 00:00:00"),
    }
    # SYSTEM_VERSION spelling; literal content untouched
    clean, clauses = extract_as_of(
        "SELECT 'db.x FOR VERSION AS OF 9' AS s FROM db.t "
        "FOR SYSTEM_VERSION AS OF 2"
    )
    assert clauses == {"db.t": ("version", 2)}
    assert "'db.x FOR VERSION AS OF 9'" in clean
    with pytest.raises(UnsupportedStatementError, match="two different"):
        extract_as_of(
            "SELECT * FROM db.t FOR VERSION AS OF 1 JOIN db.t "
            "FOR VERSION AS OF 2 ON TRUE"
        )


def test_inline_time_travel_governed(spark, tmp_path_factory):
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
        publish_overwrite,
        read_manifest,
    )

    lake = str(tmp_path_factory.mktemp("inlinett"))
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    d = spark.createDataFrame(
        [(i, "ab"[i % 2], i) for i in range(10)],
        "id long, grp string, v long",
    )
    publish_overwrite(spark, f"{lake}/t", d, ["grp"])
    append_rows(
        spark, f"{lake}/t",
        spark.createDataFrame([(100, "a", 1)], "id long, grp string, v long"),
        ["grp"],
    )
    cat.register_table(
        TableDef("db", "t", f"{lake}/t", schema=d.schema,
                 partition_keys=("grp",))
    )
    eng = Engine(spark, cat)
    assert (
        eng.sql(
            "SELECT count(*) AS n FROM db.t FOR VERSION AS OF 1", "ops"
        ).first().n == 10
    )
    assert eng.sql("SELECT count(*) AS n FROM db.t", "ops").first().n == 11
    # timestamp form: the v1 commit instant (epoch-in-quotes accepted)
    t1 = read_manifest(f"{lake}/t", 1)["committed_at"]
    assert (
        eng.sql(
            f"SELECT count(*) AS n FROM db.t FOR TIMESTAMP AS OF '{t1}'",
            "ops",
        ).first().n == 10
    )
    # pinned both inline and via the map -> error
    with pytest.raises(ValueError, match="pinned both"):
        eng.sql(
            "SELECT count(*) AS n FROM db.t FOR VERSION AS OF 1",
            "ops",
            as_of_versions={"db.t": 2},
        )


def test_inline_timestamp_refusal_names_the_clause(spark, tmp_path):
    """A malformed FOR TIMESTAMP AS OF instant is a grammar refusal that
    names the clause, parsed by the same rule as VACUUM OLDER THAN
    TIMESTAMP."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        GovernedCatalog,
    )

    eng = Engine(spark, GovernedCatalog(spark, lake_root=str(tmp_path)))
    with pytest.raises(UnsupportedStatementError, match="FOR TIMESTAMP AS OF"):
        eng.sql(
            "SELECT count(*) FROM db.t FOR TIMESTAMP AS OF 'not-a-time'",
            "ops",
        )


def test_parse_vacuum_age_forms():
    """Round-15 age-based retention grammar: OLDER THAN INTERVAL
    (relative, resolved at execution) and OLDER THAN TIMESTAMP
    (absolute; ISO or epoch; naive = UTC, the time-travel
    convention), composable with RETAIN; bare VACUUM still refuses."""
    s = parse_statement("VACUUM db.t OLDER THAN INTERVAL '7' DAYS")
    assert isinstance(s, VacuumStatement)
    assert s.keep_last == 1 and s.older_than_seconds == 7 * 86400.0
    assert s.older_than_epoch is None
    s = parse_statement(
        "VACUUM db.t RETAIN 3 SNAPSHOTS OLDER THAN INTERVAL '1' HOUR"
    )
    assert s.keep_last == 3 and s.older_than_seconds == 3600.0
    s = parse_statement(
        "VACUUM db.t OLDER THAN TIMESTAMP '2026-08-01 00:00:00' DRY RUN"
    )
    from datetime import datetime, timezone

    want = datetime(2026, 8, 1, tzinfo=timezone.utc).timestamp()
    assert s.older_than_epoch == want and s.dry_run
    s = parse_statement("VACUUM db.t OLDER THAN TIMESTAMP '1755000000.5'")
    assert s.older_than_epoch == 1755000000.5
    with pytest.raises(UnsupportedStatementError, match="RETAIN"):
        parse_statement("VACUUM db.t")
    with pytest.raises(UnsupportedStatementError, match="ISO"):
        parse_statement("VACUUM db.t OLDER THAN TIMESTAMP 'not-a-time'")
