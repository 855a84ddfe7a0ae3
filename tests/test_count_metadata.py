"""Metadata-only ``SELECT count(*)`` serving (round 13; closes r12
What's missing #3): the bare-count shape through ``engine.sql`` answers
from manifest footer row counts — zero files planned — exactly as
Athena/Iceberg/Delta answer counts from statistics. Everything outside
the provably-exact envelope (WHERE, conditioned principals, MoR
tombstones, non-manifest tables, views) falls open to the scan.
"""

from __future__ import annotations

import pytest

from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
    GovernedCatalog,
    TableDef,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.engine import Engine
from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
    DataCellsFilter,
    PermissionDeniedError,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    publish_overwrite,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.statements import (
    parse_bare_count,
)


def test_parse_bare_count_shape():
    assert parse_bare_count("SELECT count(*) FROM db.t") == (None, "db.t")
    assert parse_bare_count("select COUNT( * ) as n from db.t;") == (
        "n", "db.t",
    )
    for not_bare in (
        "SELECT count(*) FROM db.t WHERE a = 1",
        "SELECT count(*) FROM db.t GROUP BY a",
        "SELECT count(a) FROM db.t",
        "SELECT count(DISTINCT a) FROM db.t",
        "SELECT count(*), sum(v) AS s FROM db.t",
        "SELECT count(*) FROM db.t JOIN db.u ON t.a = u.a",
        "SELECT count(*) FROM db.t FOR VERSION AS OF 1",
        "SELECT count(*) FROM t",  # unqualified
        "WITH c AS (SELECT 1) SELECT count(*) FROM db.t",
    ):
        assert parse_bare_count(not_bare) is None, not_bare


@pytest.fixture()
def eng(spark, tmp_path):
    cat = GovernedCatalog(spark, lake_root=str(tmp_path))
    cat.create_database("db")
    cat.set_admins(["ops"])
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i) for i in range(37)],
        "id long, grp string, v long",
    )
    loc = f"{tmp_path}/t"
    publish_overwrite(spark, loc, df, ["grp"])
    cat.register_table(
        TableDef("db", "t", loc, schema=df.schema, partition_keys=("grp",))
    )
    return Engine(spark, cat)


def test_count_served_from_manifest_zero_files(eng):
    out = eng.sql("SELECT count(*) AS n FROM db.t", "ops")
    assert not out.inputFiles()  # no file entered the plan
    assert out.first().n == 37
    assert out.schema["n"].dataType.simpleString() == "bigint"
    # the audit marker distinguishes stats-served from scanned
    qe = eng._execute("SELECT count(*) AS n FROM db.t", "ops")
    assert "COUNT_STATS:db.t" in qe.filters_applied
    # unaliased: the column name matches what the scan path produces
    assert eng.sql("SELECT count(*) FROM db.t", "ops").columns == [
        "count(1)"
    ]


def test_count_fallbacks_scan_and_stay_exact(eng, spark):
    # WHERE: must scan (filter changes the count)
    out = eng.sql("SELECT count(*) AS n FROM db.t WHERE grp = 'a'", "ops")
    assert out.inputFiles()
    assert out.first().n == 19
    # conditioned principal: scans THROUGH their row filter
    eng.catalog.create_data_cells_filter(
        DataCellsFilter("fa", "db", "t", None, "grp = 'a'")
    )
    eng.catalog.grant("restricted", "SELECT", "db", "t", via_filter="fa")
    out = eng.sql("SELECT count(*) AS n FROM db.t", "restricted")
    assert out.inputFiles()
    assert out.first().n == 19
    # implicit deny raises exactly like the scan
    with pytest.raises(PermissionDeniedError):
        eng.sql("SELECT count(*) AS n FROM db.t", "nobody")
    # MoR tombstones: visible rows != file rows until purge -> scan
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        delete_rows_mor,
    )

    delete_rows_mor(spark, eng.catalog.tables["db.t"].location, "id = 0")
    out = eng.sql("SELECT count(*) AS n FROM db.t", "ops")
    assert out.inputFiles()
    assert out.first().n == 36


def test_count_non_manifest_table_scans(eng, spark, tmp_path):
    df = spark.createDataFrame([(1,), (2,)], "x long")
    loc = f"{tmp_path}/plain"
    df.write.mode("overwrite").parquet(loc)
    eng.catalog.register_table(
        TableDef("db", "plain", loc, schema=df.schema)
    )
    out = eng.sql("SELECT count(*) AS n FROM db.plain", "ops")
    assert out.inputFiles()  # no manifest: no exact metadata answer
    assert out.first().n == 2


def test_count_tracks_commits(eng, spark):
    """The served number must always be the CURRENT snapshot's."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
    )

    loc = eng.catalog.tables["db.t"].location
    batch = spark.createDataFrame(
        [(100 + i, "ab"[i % 2], i) for i in range(5)],
        "id long, grp string, v long",
    )
    append_rows(spark, loc, batch, ["grp"])
    out = eng.sql("SELECT count(*) AS n FROM db.t", "ops")
    assert not out.inputFiles()
    assert out.first().n == 42


def test_grouped_count_served_from_partitions(eng, spark):
    """The per-partition form: GROUP BY the partition column answers
    from hive dir names + footer counts, zero files planned, typed
    like the scan would type it."""
    out = eng.sql(
        "SELECT grp, count(*) AS n FROM db.t GROUP BY grp", "ops"
    )
    assert not out.inputFiles()
    assert sorted((r.grp, r.n) for r in out.collect()) == [
        ("a", 19), ("b", 18),
    ]
    assert out.schema["grp"].dataType.simpleString() == "string"
    # ORDER BY / LIMIT tails apply after
    top = eng.sql(
        "SELECT grp, count(*) AS n FROM db.t GROUP BY grp "
        "ORDER BY n DESC LIMIT 1",
        "ops",
    )
    assert not top.inputFiles()
    assert [(r.grp, r.n) for r in top.collect()] == [("a", 19)]
    # non-partition group column: scan
    by_v = eng.sql(
        "SELECT v, count(*) AS n FROM db.t GROUP BY v", "ops"
    )
    assert by_v.inputFiles()
    # extra measures: scan
    with_sum = eng.sql(
        "SELECT grp, count(*) AS n, sum(v) AS s FROM db.t GROUP BY grp",
        "ops",
    )
    assert with_sum.inputFiles()


def test_grouped_count_typed_partition_values(eng, spark, tmp_path):
    """Integer partition values decode back to the declared type."""
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "id long, yr int, v double",
    )
    loc = f"{tmp_path}/ints"
    publish_overwrite(spark, loc, df, ["yr"])
    eng.catalog.register_table(
        TableDef("db", "ints", loc, schema=df.schema, partition_keys=("yr",))
    )
    out = eng.sql(
        "SELECT yr, count(*) AS n FROM db.ints GROUP BY yr", "ops"
    )
    assert not out.inputFiles()
    assert out.schema["yr"].dataType.simpleString() == "int"
    assert sorted((r.yr, r.n) for r in out.collect()) == [
        (0, 10), (1, 10), (2, 10),
    ]


def test_grouped_count_preserves_select_order(eng):
    """Review fix (r13): the served result's columns follow the
    query's SELECT list, not the GROUP BY order — positional consumers
    must see exactly what the scan would produce."""
    out = eng.sql(
        "SELECT count(*) AS n, grp FROM db.t GROUP BY grp", "ops"
    )
    assert not out.inputFiles()
    assert out.columns == ["n", "grp"]
    assert sorted((r.n, r.grp) for r in out.collect()) == [
        (18, "b"), (19, "a"),
    ]
