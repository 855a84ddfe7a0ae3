"""ALTER COLUMN TYPE safe widening (round-14): one metadata commit
widens the manifest's recorded writer schema and the catalog's declared
schema together; old narrow footers read back at the new width through
Spark's parquet type promotion; appends validate against — and land —
the widened type. Narrowing, cross-family changes, and partition keys
refuse (fail closed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
    widen_column_type,
)


def _seed(spark):
    return spark.createDataFrame(
        [(i, f"t{i}", ["en", "de"][i % 2], i * 10, float(i)) for i in range(10)],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("n_chars", T.IntegerType()),
                T.StructField("score", T.FloatType()),
            ]
        ),
    )


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "docs")
    publish_overwrite(spark, path, _seed(spark), ["lang"])
    return path


def test_widen_is_metadata_only_and_old_footers_promote(spark, table):
    v1_files = read_manifest(table)["files"]
    widen_column_type(table, "n_chars", "long")
    m = read_manifest(table)
    assert m["files"] == v1_files  # zero data moved
    assert {f["name"]: f["type"] for f in m["schema"]["fields"]}[
        "n_chars"
    ] == "long"
    df = read_table(spark, table)
    assert dict(df.dtypes)["n_chars"] == "bigint"
    assert df.agg(F.sum("n_chars")).first()[0] == sum(i * 10 for i in range(10))


def test_append_beyond_old_domain_after_widen(spark, table):
    wide = spark.createDataFrame(
        [(100, "w", "en", 3_000_000_000, 1.5)],
        "doc_id long, text string, lang string, n_chars long, score float",
    )
    # before the widen the batch is a retyped-column refusal
    with pytest.raises(ValueError, match="retyped"):
        append_rows(spark, table, wide, ["lang"])
    widen_column_type(table, "n_chars", "long")
    append_rows(spark, table, wide, ["lang"])
    got = read_table(spark, table).agg(F.max("n_chars")).first()[0]
    assert got == 3_000_000_000


def test_unsafe_directions_refuse(spark, table):
    for col, bad in [
        ("n_chars", "smallint"),  # narrowing
        ("n_chars", "string"),  # cross-family
        ("n_chars", "integer"),  # identity
        ("score", "integer"),  # float -> int
        ("text", "long"),  # string -> anything
    ]:
        with pytest.raises(ValueError, match="not a safe widening"):
            widen_column_type(table, col, bad)
    with pytest.raises(ValueError, match="partition column"):
        widen_column_type(table, "lang", "string")
    with pytest.raises(ValueError, match="no column"):
        widen_column_type(table, "ghost", "long")


def test_float_and_decimal_widening(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(5).select(
        F.col("id").alias("k"),
        F.col("id").cast("float").alias("f"),
        F.col("id").cast("decimal(5,2)").alias("d"),
    )
    publish_overwrite(spark, path, df, None)
    widen_column_type(path, "f", "double")
    widen_column_type(path, "d", "decimal(12,4)")
    out = read_table(spark, path)
    assert dict(out.dtypes) == {"k": "bigint", "f": "double", "d": "decimal(12,4)"}
    assert out.agg(F.sum("f")).first()[0] == 10.0
    # decimal scale may not shrink, integer headroom may not shrink
    with pytest.raises(ValueError, match="not a safe widening"):
        widen_column_type(path, "d", "decimal(12,2)")
    with pytest.raises(ValueError, match="not a safe widening"):
        widen_column_type(path, "d", "decimal(12,5)")


def _engine(spark, tmp_path):
    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    publish_overwrite(spark, loc, _seed(spark), ["lang"])
    cat.register_table(
        TableDef(
            "db",
            "docs",
            loc,
            schema=_seed(spark).schema,
            partition_keys=("lang",),
        )
    )
    return Engine(spark, cat), cat


def test_sql_statement_widens_catalog_and_storage_together(spark, tmp_path):
    eng, cat = _engine(spark, tmp_path)
    out = eng.sql(
        "ALTER TABLE db.docs ALTER COLUMN n_chars TYPE bigint", "ops"
    ).first()
    assert (out.column, out.new_type) == ("n_chars", "bigint")
    td = cat.tables["db.docs"]
    assert isinstance(
        dict((f.name, f.dataType) for f in td.schema.fields)["n_chars"],
        T.LongType,
    )
    m = read_manifest(td.location)
    assert {f["name"]: f["type"] for f in m["schema"]["fields"]}[
        "n_chars"
    ] == "long"
    # the governed scan serves the widened type
    assert dict(eng.sql("SELECT * FROM db.docs", "ops").dtypes)[
        "n_chars"
    ] == "bigint"
    # audit carries the MAINTAIN line
    lines = [e for e in cat.audit.events if "widen_column" in e["query"]]
    assert lines and lines[-1]["status"] == "ok"
    # the Iceberg-flavored spelling parses too
    eng.sql("ALTER TABLE db.docs ALTER COLUMN score SET DATA TYPE double", "ops")
    assert dict(eng.sql("SELECT * FROM db.docs", "ops").dtypes)[
        "score"
    ] == "double"


def test_sql_statement_gates_and_refusals(spark, tmp_path):
    eng, cat = _engine(spark, tmp_path)
    cat.grant("analyst", "SELECT", "db", "docs")
    with pytest.raises(PermissionDeniedError):
        eng.sql(
            "ALTER TABLE db.docs ALTER COLUMN n_chars TYPE bigint", "analyst"
        )
    with pytest.raises(ValueError, match="not a safe widening"):
        eng.sql("ALTER TABLE db.docs ALTER COLUMN n_chars TYPE smallint", "ops")
    with pytest.raises(ValueError, match="partition key"):
        eng.sql("ALTER TABLE db.docs ALTER COLUMN lang TYPE string", "ops")
    # catalog untouched after every refusal
    td = cat.tables["db.docs"]
    assert isinstance(
        dict((f.name, f.dataType) for f in td.schema.fields)["n_chars"],
        T.IntegerType,
    )


def test_widen_on_declared_location_table_is_catalog_only(spark, tmp_path):
    """Non-manifest (schema-on-read) tables: the catalog IS the schema;
    a widen changes only the declared overlay and reads promote."""
    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/plain"
    _seed(spark).write.parquet(loc)
    cat.register_table(TableDef("db", "plain", loc, schema=_seed(spark).schema))
    eng = Engine(spark, cat)
    eng.sql("ALTER TABLE db.plain ALTER COLUMN n_chars TYPE bigint", "ops")
    df = eng.sql("SELECT * FROM db.plain", "ops")
    assert dict(df.dtypes)["n_chars"] == "bigint"
    assert df.agg(F.sum("n_chars")).first()[0] == sum(i * 10 for i in range(10))


def test_mv_refresh_survives_widening(spark, tmp_path):
    """A sum/count MV over the widened column keeps refresh ==
    recompute: its stored sum state is already long."""
    eng, cat = _engine(spark, tmp_path)
    eng.create_materialized_view(
        "db.mv",
        "db.docs",
        ["lang"],
        {"n": ("count", None), "total": ("sum", "n_chars")},
        principal="ops",
    )
    eng.sql("ALTER TABLE db.docs ALTER COLUMN n_chars TYPE bigint", "ops")
    eng.sql(
        "INSERT INTO db.docs VALUES (100, 'w', 'en', 3000000000, 1.5)", "ops"
    )
    out = eng.refresh_materialized_view("db.mv", principal="ops")
    assert out["refreshed"]
    got = {
        r.lang: (r.n, r.total)
        for r in eng.sql("SELECT lang, n, total FROM db.mv", "ops").collect()
    }
    want = {
        r.lang: (r.n, r.total)
        for r in eng.sql(
            "SELECT lang, count(*) AS n, sum(n_chars) AS total "
            "FROM db.docs GROUP BY lang",
            "ops",
        ).collect()
    }
    assert got == want and got["en"][1] > 3_000_000_000


def test_widen_refuses_trailing_ddl_text(spark, tmp_path):
    """Round-14 review fix: 'bigint, junk string' parses as two DDL
    fields and 'bigint COMMENT x' attaches metadata — both refuse
    instead of silently widening to the first field."""
    eng, cat = _engine(spark, tmp_path)
    for bad in ("bigint, junk string", "bigint COMMENT 'x'"):
        with pytest.raises(ValueError, match="exactly one plain type"):
            eng.sql(
                f"ALTER TABLE db.docs ALTER COLUMN n_chars TYPE {bad}",
                "ops",
            )
    td = cat.tables["db.docs"]
    assert isinstance(
        dict((f.name, f.dataType) for f in td.schema.fields)["n_chars"],
        T.IntegerType,
    )
