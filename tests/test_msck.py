"""MSCK REPAIR TABLE (round-14): hive-layout discovery for
declared-location tables — nested SHOW PARTITIONS, footer row counts
that let the metadata-only COUNT serve schema-on-read tables, and a
consumer-side listing guard so drift falls open to the scan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
    DataCellsFilter,
    GovernedCatalog,
    TableDef,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.engine import Engine
from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
    PermissionDeniedError,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    publish_overwrite,
)


def _docs(spark, n=20):
    return spark.createDataFrame(
        [
            (i, f"t{i}", ["en", "de"][i % 2], ["web", "book"][i % 3 == 0], i)
            for i in range(n)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def _setup(spark, tmp_path, partition_by, write_keys=None):
    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    w = _docs(spark).write
    if write_keys:
        w = w.partitionBy(*write_keys)
    w.parquet(loc)
    cat.register_table(
        TableDef(
            "db",
            "docs",
            loc,
            schema=_docs(spark).schema,
            partition_keys=tuple(partition_by),
        )
    )
    return Engine(spark, cat), cat


def test_nested_layout_show_partitions_and_counts(spark, tmp_path):
    eng, cat = _setup(
        spark, tmp_path, ["lang", "source"], write_keys=["lang", "source"]
    )
    out = eng.sql("MSCK REPAIR TABLE db.docs", "ops").first()
    assert out.partitions == 4  # en/de x web/book
    parts = eng.sql("SHOW PARTITIONS db.docs", "ops").collect()
    names = sorted(r[0] for r in parts)
    assert names == [
        "lang=de/source=book",
        "lang=de/source=web",
        "lang=en/source=book",
        "lang=en/source=web",
    ]
    c = eng.sql("SELECT count(*) AS n FROM db.docs", "ops")
    assert not c.inputFiles() and c.first().n == 20
    # per-partition form over BOTH keys serves from the index
    per = eng.sql(
        "SELECT lang, source, count(*) AS n FROM db.docs "
        "GROUP BY lang, source",
        "ops",
    )
    assert not per.inputFiles()
    got = {(r.lang, r.source): r.n for r in per.collect()}
    want = {
        (r.lang, r.source): r.n
        for r in _docs(spark)
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == {k: want[k] for k in got} and len(got) == 4


def test_drift_falls_open_never_stale(spark, tmp_path):
    eng, cat = _setup(spark, tmp_path, ["lang"], write_keys=["lang"])
    eng.sql("MSCK REPAIR TABLE db.docs", "ops")
    c = eng.sql("SELECT count(*) AS n FROM db.docs", "ops")
    assert not c.inputFiles() and c.first().n == 20
    # land one more file out-of-band
    spark.createDataFrame(
        [(100, "x", "en", "web", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("append").partitionBy("lang").parquet(
        cat.tables["db.docs"].location
    )
    c2 = eng.sql("SELECT count(*) AS n FROM db.docs", "ops")
    assert c2.inputFiles()  # scan, not the stale index
    assert c2.first().n == 21
    out = eng.sql("MSCK REPAIR TABLE db.docs", "ops").first()
    assert out.new_files == 1
    c3 = eng.sql("SELECT count(*) AS n FROM db.docs", "ops")
    assert not c3.inputFiles() and c3.first().n == 21


def test_repair_refusals_and_gate(spark, tmp_path):
    # manifest-committed tables refuse (ADD FILES is the import path)
    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/m"
    publish_overwrite(spark, loc, _docs(spark), ["lang"])
    cat.register_table(
        TableDef(
            "db", "m", loc, schema=_docs(spark).schema,
            partition_keys=("lang",),
        )
    )
    eng = Engine(spark, cat)
    with pytest.raises(ValueError, match="manifest-committed"):
        eng.sql("MSCK REPAIR TABLE db.m", "ops")
    # layout drift raises loudly: flat files under a declared key
    loc2 = f"{lake}/flat"
    _docs(spark).write.parquet(loc2)
    cat.register_table(
        TableDef(
            "db", "flat", loc2, schema=_docs(spark).schema,
            partition_keys=("lang",),
        )
    )
    with pytest.raises(ValueError, match="partition layout"):
        eng.sql("MSCK REPAIR TABLE db.flat", "ops")
    # non-admin denied
    cat.grant("analyst", "SELECT", "db", "m")
    with pytest.raises(PermissionDeniedError):
        eng.sql("MSCK REPAIR TABLE db.m", "analyst")


def test_conditioned_principal_never_served_from_index(spark, tmp_path):
    eng, cat = _setup(spark, tmp_path, ["lang"], write_keys=["lang"])
    eng.sql("MSCK REPAIR TABLE db.docs", "ops")
    cat.create_data_cells_filter(
        DataCellsFilter(
            name="en-only",
            database="db",
            table="docs",
            columns=(),
            row_filter="lang = 'en'",
        )
    )
    cat.grant("analyst", "SELECT", "db", "docs", via_filter="en-only")
    c = eng.sql("SELECT count(*) AS n FROM db.docs", "analyst")
    assert c.inputFiles()  # the filtered count MUST scan
    assert c.first().n == 10


def test_describe_files_manifest_and_declared(spark, tmp_path):
    """DESCRIBE FILES: exact per-file inventory from the manifest;
    declared-location tables serve exact rows only while the MSCK
    index is fresh (stale entries report NULL rows, never wrong)."""
    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/m"
    publish_overwrite(spark, loc, _docs(spark), ["lang"])
    cat.register_table(
        TableDef(
            "db", "m", loc, schema=_docs(spark).schema,
            partition_keys=("lang",),
        )
    )
    eng = Engine(spark, cat)
    files = eng.sql("DESCRIBE FILES db.m", "ops").collect()
    assert files and all(
        r.rows is not None and r.size_bytes > 0 and r.added_version == 1
        for r in files
    )
    assert sum(r.rows for r in files) == 20
    assert {r.partition for r in files} == {"lang=en", "lang=de"}
    # declared-location form: rows come from the MSCK index
    loc2 = f"{lake}/d"
    _docs(spark).write.partitionBy("lang").parquet(loc2)
    cat.register_table(
        TableDef(
            "db", "d", loc2, schema=_docs(spark).schema,
            partition_keys=("lang",),
        )
    )
    pre = eng.sql("DESCRIBE FILES db.d", "ops").collect()
    assert pre and all(r.rows is None and r.size_bytes > 0 for r in pre)
    eng.sql("MSCK REPAIR TABLE db.d", "ops")
    post = eng.sql("DESCRIBE FILES db.d", "ops").collect()
    assert sum(r.rows for r in post) == 20
    # ungranted principal: implicit deny hides existence
    with pytest.raises((PermissionDeniedError, KeyError)):
        eng.sql("DESCRIBE FILES db.m", "nobody")
