"""ADD FILES import into manifest tables (round-14): bulk-landed
parquet bridges into the transactional layout as one O(new files)
commit — layout/schema validated, CHECK constraints verified over the
new data, footer stats + exact row counts recorded at import, carried
files untouched, tombstones never retroactive."""

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
    add_files,
    publish_overwrite,
    read_manifest,
    read_table,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
    ConstraintViolationError,
    add_constraint,
    count_rows,
    delete_rows_mor,
    rename_column,
    widen_column_type,
)


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"t{i}", ["en", "de"][i % 2], i * 10) for i in range(lo, hi)],
        "doc_id long, text string, lang string, n_chars int",
    )


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "docs")
    publish_overwrite(spark, path, _docs(spark, 0, 10), ["lang"])
    return path


def _land(spark, tmp_path, df, partitioned=True):
    landing = str(tmp_path / "landing")
    w = df.write
    if partitioned:
        w = w.partitionBy("lang")
    w.parquet(landing)
    return landing


def test_import_commits_o_new_files(spark, tmp_path, table):
    landing = _land(spark, tmp_path, _docs(spark, 10, 20))
    before = read_manifest(table)
    snap = add_files(spark, table, landing)
    added = sorted(set(snap["files"]) - set(before["files"]))
    assert added and all("part-import-" in f for f in added)
    assert set(before["files"]) <= set(snap["files"])  # carried by identity
    # footer stats + exact rows recorded at import
    assert all(f in snap["file_rows"] for f in added)
    assert all(f in snap["file_stats"] for f in added)
    assert count_rows(table)["rows"] == 20
    df = read_table(spark, table)
    assert df.count() == 20
    assert df.agg(F.sum("n_chars")).first()[0] == sum(i * 10 for i in range(20))
    # source landing dir untouched (hardlinked, not moved)
    assert spark.read.parquet(landing).count() == 10
    # time travel: the pre-import snapshot excludes imported rows
    assert read_table(spark, table, version=before["version"]).count() == 10


def test_layout_drift_refuses(spark, tmp_path, table):
    flat = _land(spark, tmp_path, _docs(spark, 10, 12), partitioned=False)
    with pytest.raises(ValueError, match="partition layout"):
        add_files(spark, table, flat)
    # wrong key name
    wrong = str(tmp_path / "wrong")
    _docs(spark, 10, 12).withColumnRenamed("lang", "country").write.partitionBy(
        "country"
    ).parquet(wrong)
    with pytest.raises(ValueError, match="partition layout|extra|missing"):
        add_files(spark, table, wrong)


def test_schema_drift_refuses(spark, tmp_path, table):
    extra = str(tmp_path / "extra")
    _docs(spark, 10, 12).withColumn("bonus", F.lit(1)).write.partitionBy(
        "lang"
    ).parquet(extra)
    with pytest.raises(ValueError, match="extra"):
        add_files(spark, table, extra)
    retyped = str(tmp_path / "retyped")
    _docs(spark, 10, 12).withColumn(
        "n_chars", F.col("n_chars").cast("string")
    ).write.partitionBy("lang").parquet(retyped)
    with pytest.raises(ValueError, match="retyped"):
        add_files(spark, table, retyped)
    before = read_manifest(table)
    assert before["version"] == 1  # zero table change across refusals


def test_narrower_files_import_into_widened_column(spark, tmp_path, table):
    """Composition with ALTER COLUMN TYPE: int32 files land in a
    bigint column through parquet promotion."""
    widen_column_type(table, "n_chars", "long")
    landing = _land(spark, tmp_path, _docs(spark, 10, 15))  # int32 files
    add_files(spark, table, landing)
    df = read_table(spark, table)
    assert dict(df.dtypes)["n_chars"] == "bigint"
    assert df.count() == 15


def test_constraints_verify_before_linking(spark, tmp_path, table):
    add_constraint(spark, table, "chars_bound", "n_chars < 150")
    bad = _land(spark, tmp_path, _docs(spark, 20, 30))  # n_chars up to 290
    v_before = read_manifest(table)["version"]
    with pytest.raises(ConstraintViolationError):
        add_files(spark, table, bad)
    assert read_manifest(table)["version"] == v_before  # zero change
    ok = str(tmp_path / "ok")
    _docs(spark, 10, 14).write.partitionBy("lang").parquet(ok)  # < 140
    add_files(spark, table, ok)
    assert read_table(spark, table).count() == 14


def test_rename_mapping_refuses(spark, tmp_path, table):
    rename_column(table, "n_chars", "char_count")
    landing = _land(spark, tmp_path, _docs(spark, 10, 12))
    with pytest.raises(ValueError, match="rename mapping"):
        add_files(spark, table, landing)


def test_tombstones_never_apply_to_imported_files(spark, tmp_path, table):
    delete_rows_mor(spark, table, "doc_id < 100")  # tombstones everything
    assert read_table(spark, table).count() == 0
    landing = _land(spark, tmp_path, _docs(spark, 10, 15))
    add_files(spark, table, landing)
    # imported files postdate the tombstone scope: all 5 rows visible
    assert read_table(spark, table).count() == 5


def test_non_manifest_and_bad_sources_refuse(spark, tmp_path):
    # a plain directory is adopted as v1, then imported into
    plain = str(tmp_path / "plain")
    _docs(spark, 0, 5).write.partitionBy("lang").parquet(plain)
    landing = _land(spark, tmp_path, _docs(spark, 5, 8))
    add_files(spark, plain, landing)
    assert read_table(spark, plain).count() == 8
    path = str(tmp_path / "docs")
    publish_overwrite(spark, path, _docs(spark, 0, 5), ["lang"])
    with pytest.raises(ValueError, match="does not exist"):
        add_files(spark, path, str(tmp_path / "ghost"))
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="no parquet files"):
        add_files(spark, path, str(empty))


def test_sql_statement_gate_and_audit(spark, tmp_path):
    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    publish_overwrite(spark, loc, _docs(spark, 0, 10), ["lang"])
    cat.register_table(
        TableDef(
            "db",
            "docs",
            loc,
            schema=_docs(spark, 0, 10).schema,
            partition_keys=("lang",),
        )
    )
    eng = Engine(spark, cat)
    landing = _land(spark, tmp_path, _docs(spark, 10, 20))
    cat.grant("analyst", "SELECT", "db", "docs")
    with pytest.raises(PermissionDeniedError):
        eng.sql(f"ALTER TABLE db.docs ADD FILES '{landing}'", "analyst")
    out = eng.sql(f"ALTER TABLE db.docs ADD FILES '{landing}'", "ops").first()
    assert out.files_added > 0 and out.rows_added == 10
    assert eng.sql("SELECT count(*) AS n FROM db.docs", "ops").first().n == 20
    lines = [e for e in cat.audit.events if "add_files" in e["query"]]
    assert lines and lines[-1]["status"] == "ok"
    assert landing in lines[-1]["query"]


def test_heterogeneous_landing_refuses_per_file(spark, tmp_path, table):
    """Round-14 review fix: schema validates PER FILE — a landing with
    one conforming and one retyped file must refuse entirely (a
    directory-level inference would see only one footer and link
    both)."""
    landing = str(tmp_path / "hetero")
    _docs(spark, 10, 12).coalesce(1).write.partitionBy("lang").parquet(
        landing
    )
    # second file set with n_chars retyped, landed into the same dirs
    _docs(spark, 12, 14).withColumn(
        "n_chars", F.col("n_chars").cast("string")
    ).coalesce(1).write.mode("append").partitionBy("lang").parquet(landing)
    before = read_manifest(table)["version"]
    with pytest.raises(ValueError, match="retyped"):
        add_files(spark, table, landing)
    assert read_manifest(table)["version"] == before  # zero change


def test_numeric_looking_string_partition_values_import(spark, tmp_path):
    """Round-14 review fix: partition values are NOT type-inferred
    from directory names — day='20240101' dirs import fine into a
    string-typed partition key."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"2024010{i % 2 + 1}", i) for i in range(6)],
        "id long, day string, v long",
    )
    publish_overwrite(spark, path, df, ["day"])
    landing = str(tmp_path / "land")
    spark.createDataFrame(
        [(100 + i, f"2024010{i % 2 + 1}", i) for i in range(4)],
        "id long, day string, v long",
    ).write.partitionBy("day").parquet(landing)
    add_files(spark, path, landing)
    got = read_table(spark, path)
    assert got.count() == 10
    assert dict(got.dtypes)["day"] == "string"


def test_add_files_refuses_mv_state(spark, tmp_path):
    """Round-14 review fix: importing files into an MV's derived state
    would silently desync it from its source — refuse."""
    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    publish_overwrite(spark, loc, _docs(spark, 0, 10), ["lang"])
    cat.register_table(
        TableDef(
            "db", "docs", loc, schema=_docs(spark, 0, 10).schema,
            partition_keys=("lang",),
        )
    )
    eng = Engine(spark, cat)
    eng.create_materialized_view(
        "db.mv", "db.docs", ["lang"], {"n": ("count", None)}, principal="ops"
    )
    landing = _land(spark, tmp_path, _docs(spark, 10, 12))
    with pytest.raises(ValueError, match="derived"):
        eng.sql(f"ALTER TABLE db.mv ADD FILES '{landing}'", "ops")
    with pytest.raises(ValueError, match="derived"):
        eng.sql("ALTER TABLE db.mv ALTER COLUMN n TYPE bigint", "ops")
    with pytest.raises(ValueError, match="derived"):
        eng.sql("ALTER TABLE db.mv ADD CONSTRAINT c CHECK (n > 0)", "ops")


def test_import_freezes_files_readonly_and_reports_counts(
    spark, tmp_path, table
):
    """Round-15 ADVICE pair: (a) the snapshot itself carries the
    import accounting computed under the publish lock (files_added /
    rows_added — never a pre-lock manifest diff in the caller), and
    (b) imported files freeze read-only after the commit. Because a
    hardlink shares the source inode, the landing copy goes read-only
    too — the loud guard against an in-place landing edit silently
    mutating committed snapshots."""
    import os
    import stat
    from pathlib import Path

    landing = _land(spark, tmp_path, _docs(spark, 10, 20))
    snap = add_files(spark, table, landing)
    assert snap["files_added"] > 0
    assert snap["rows_added"] == 10
    before = read_manifest(table)
    linked = [
        f for f in before["files"] if "part-import-" in f
    ]
    assert len(linked) == snap["files_added"]
    for f in linked:
        mode = stat.S_IMODE(os.stat(Path(table) / f).st_mode)
        assert not (mode & stat.S_IWUSR), f
    src_files = [
        p for p in Path(landing).rglob("*.parquet") if p.is_file()
    ]
    # hardlinked on this filesystem -> the alias is read-only as well
    if any(os.stat(p).st_nlink > 1 for p in src_files):
        for p in src_files:
            if os.stat(p).st_nlink > 1:
                assert not (
                    stat.S_IMODE(os.stat(p).st_mode) & stat.S_IWUSR
                ), p
    # the frozen files still read fine and the table serves all rows
    assert read_table(spark, table).count() == 20


def test_aborted_import_never_touches_landing_permissions(
    spark, tmp_path, table
):
    """A refused import (schema drift) must leave the landing files
    writable: the read-only freeze happens only after a successful
    commit."""
    import os
    import stat
    from pathlib import Path

    bad = spark.createDataFrame(
        [(1, "x", "en", 1, 9.9)],
        "doc_id long, text string, lang string, n_chars int, extra double",
    )
    landing = _land(spark, tmp_path, bad)
    with pytest.raises(ValueError, match="does not match"):
        add_files(spark, table, landing)
    for p in Path(landing).rglob("*.parquet"):
        assert stat.S_IMODE(os.stat(p).st_mode) & stat.S_IWUSR, p


def test_ntz_timestamp_columns_import(spark, tmp_path):
    """Round-15 review finding #1: the pyarrow footer shortcut must
    map tz-less parquet timestamps the way Spark's reader does
    (timestamp_ntz), not falsely refuse a valid import."""
    import datetime

    path = str(tmp_path / "tstab")
    df = spark.createDataFrame(
        [(i, datetime.datetime(2026, 1, 1 + i)) for i in range(4)],
        "id long, ts timestamp_ntz",
    )
    publish_overwrite(spark, path, df, None)
    landing = str(tmp_path / "tsland")
    spark.createDataFrame(
        [(10 + i, datetime.datetime(2026, 2, 1 + i)) for i in range(3)],
        "id long, ts timestamp_ntz",
    ).write.parquet(landing)
    snap = add_files(spark, path, landing)
    assert snap["rows_added"] == 3
    assert read_table(spark, path).count() == 7


def test_add_files_accept_path_cross_checks_spark(spark, tmp_path, monkeypatch):
    """Round-16 ADVICE: the footer fast path is sample-verified through
    the authoritative Spark reader on the ACCEPT side too — a pyarrow
    footer reading that wrongly claims a match must not loosen the
    refusal matrix. One Spark plan per distinct footer schema, not per
    file."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        add_files,
    )

    loc = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    publish_overwrite(spark, loc, df, None)

    # landing files whose v column is GENUINELY long (Spark refuses:
    # long is not readable as the declared string)
    bad = spark.createDataFrame([(3, 30)], "id long, v long")
    bad.repartition(1).write.mode("overwrite").parquet(
        str(tmp_path / "stage")
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    for i, f in enumerate(glob.glob(str(tmp_path / "stage" / "*.parquet"))):
        shutil.copy(f, landing / f"f{i}.parquet")
        shutil.copy(f, landing / f"g{i}.parquet")

    # sabotage the footer reading to CLAIM v is a string: the shortcut
    # now wrongly reports a match, and only the accept-path Spark
    # cross-check stands between the lie and a linked bad file
    real_rs = pq.read_schema

    def lying(f, *a, **k):
        sch = real_rs(f, *a, **k)
        idx = sch.get_field_index("v")
        return sch.set(idx, pa.field("v", pa.string()))

    monkeypatch.setattr(pq, "read_schema", lying)
    with pytest.raises(ValueError, match="accept-path cross-check"):
        add_files(spark, loc, str(landing))
    monkeypatch.undo()

    # honest footers + honest files import fine (and the cross-check
    # costs one Spark read for the single distinct schema)
    good = spark.createDataFrame([(3, "c")], "id long, v string")
    good.repartition(1).write.mode("overwrite").parquet(
        str(tmp_path / "stage2")
    )
    landing2 = tmp_path / "landing2"
    landing2.mkdir()
    for i, f in enumerate(glob.glob(str(tmp_path / "stage2" / "*.parquet"))):
        shutil.copy(f, landing2 / f"h{i}.parquet")
        shutil.copy(f, landing2 / f"k{i}.parquet")
    out = add_files(spark, loc, str(landing2))
    assert out["files_added"] == 2
