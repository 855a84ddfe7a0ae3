"""The lake_manifest Python data source (round-8): Structured
Streaming FROM a manifest table — offsets are snapshot versions,
micro-batch partitions are the files each snapshot added, rows are
read executor-side with pyarrow. Delta-streaming-source parity:
append-only enforcement with ignoreChanges, retention-bounded resume,
checkpoint restart at the committed version."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    append_rows,
    merge_into,
    publish_overwrite,
    read_table,
    register_lake_manifest_source,
    vacuum_manifests,
)


@pytest.fixture(autouse=True)
def _register(spark):
    register_lake_manifest_source(spark)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, bucket long, v string")


def _run_stream(spark, schema, path, out, ckpt):
    q = (
        spark.readStream.format("lake_manifest")
        .schema(schema)
        .load(path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_stream_restarts_at_committed_version_no_duplicates(spark, tmp_path):
    path, out, ckpt = (
        str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    df = _mk(spark, [(i, i % 2, "v%d" % i) for i in range(10)])
    publish_overwrite(spark, path, df, ["bucket"])
    append_rows(spark, path, _mk(spark, [(10, 0, "x")]), ["bucket"])

    _run_stream(spark, df.schema, path, out, ckpt)
    got1 = spark.read.schema(df.schema).parquet(out)
    assert got1.count() == 11 and got1.select("id").distinct().count() == 11

    # a commit lands AFTER the stream stopped; the restart resumes at
    # the checkpointed version and emits ONLY the new snapshot's files
    append_rows(spark, path, _mk(spark, [(11, 1, "y"), (12, 0, "z")]), ["bucket"])
    _run_stream(spark, df.schema, path, out, ckpt)
    got2 = spark.read.schema(df.schema).parquet(out)
    assert got2.count() == 13
    assert got2.select("id").distinct().count() == 13
    # partition-column values were recovered from the paths, typed long
    assert {r.bucket for r in got2.select("bucket").distinct().collect()} == {0, 1}


def test_stream_refuses_rewrites_unless_ignore_changes(spark, tmp_path):
    path, out, ckpt = (
        str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    df = _mk(spark, [(1, 0, "a"), (2, 1, "b")])
    publish_overwrite(spark, path, df, ["bucket"])
    _run_stream(spark, df.schema, path, out, ckpt)
    # a MERGE rewrites bucket=0's file: the next micro-batch must fail
    merge_into(
        spark, path, _mk(spark, [(1, 0, "a2")]), ["id"],
        partition_by=["bucket"], collect_stats=False,
    )
    with pytest.raises(Exception, match="retract|ignoreChanges"):
        _run_stream(spark, df.schema, path, out, ckpt)
    # with the flag, the rewritten file streams (row 1 re-appears —
    # documented Delta ignoreChanges semantics)
    q = (
        spark.readStream.format("lake_manifest")
        .schema(df.schema)
        .option("ignoreChanges", "true")
        .load(path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.schema(df.schema).parquet(out)
    assert got.filter("id = 1").count() == 2  # original + rewritten
    assert got.filter("v = 'a2'").count() == 1


def test_stream_resume_beyond_retention_raises(spark, tmp_path):
    path, out, ckpt = (
        str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    df = _mk(spark, [(1, 0, "a")])
    publish_overwrite(spark, path, df, ["bucket"])
    _run_stream(spark, df.schema, path, out, ckpt)  # checkpoint at v1
    append_rows(spark, path, _mk(spark, [(2, 1, "b")]), ["bucket"])
    append_rows(spark, path, _mk(spark, [(3, 0, "c")]), ["bucket"])
    vacuum_manifests(path, keep_last=1)  # v1/v2 manifests expired
    with pytest.raises(Exception, match="not retained|retention"):
        _run_stream(spark, df.schema, path, out, ckpt)


def test_batch_reader_matches_read_table_and_infers_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _mk(spark, [(i, i % 3, "v%d" % i) for i in range(9)])
    publish_overwrite(spark, path, df, ["bucket"])
    b = spark.read.format("lake_manifest").schema(df.schema).load(path)
    want = sorted(map(tuple, read_table(spark, path, df.schema).collect()))
    assert sorted(map(tuple, b.collect())) == want
    # inference fallback: data columns from one footer; the path-only
    # partition column comes back as a string
    inf = spark.read.format("lake_manifest").load(path)
    assert dict(inf.dtypes)["bucket"] == "string"
    assert inf.count() == 9


def test_governed_stream_table_enforces_like_batch(spark, tmp_path):
    """Governance composes with streaming (round-8): stream_table
    applies the analyst's data-cells filter (APAC rows, 5 non-PII
    columns) to every micro-batch; an ungranted principal is denied
    BEFORE any stream starts; admins stream raw. Streaming is not a
    governance bypass."""
    from tf_aws_lakeformation_governed_datalake_demo_spark import fixtures as fx
    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        PermissionDeniedError,
    )

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    # convert the sales table to manifest commits (same rows)
    sales = spark.read.parquet(f"{lake}/sales")
    publish_overwrite(
        spark, f"{lake}/sales", sales, None
    )

    def drain(stream_df):
        name = f"gov_stream_{abs(hash(str(tmp_path))) % 10_000}"
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.sql(f"SELECT * FROM {name}")

    got = drain(cat.stream_table("sales_db.sales", "analyst"))
    rows = got.collect()
    assert len(rows) == 8  # APAC only (generator split 8/6/6)
    assert {r.sales_region for r in rows} == {"APAC"}
    assert sorted(got.columns) == sorted(
        ["customer_id", "customer_name", "sales_region", "sales_amount",
         "sale_date"]
    )  # PII columns never enter the stream
    with pytest.raises(PermissionDeniedError):
        cat.stream_table("sales_db.sales", "nobody")
    # admin streams the raw table — all 20 rows, all 7 columns
    admin = drain(cat.stream_table("sales_db.sales", "dataadmin"))
    assert admin.count() == 20 and len(admin.columns) == 7


def test_stream_refuses_mor_tombstones_unless_ignore_changes(spark, tmp_path):
    """A merge-on-read delete changes visibility without touching the
    file set — still a retraction for a forward-only stream: the next
    micro-batch after a tombstone commit must fail closed (same
    contract as a file rewrite), and ignoreChanges opts out."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        delete_rows_mor,
    )

    path, out, ckpt = (
        str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    df = _mk(spark, [(1, 0, "a"), (2, 1, "b")])
    publish_overwrite(spark, path, df, ["bucket"])
    _run_stream(spark, df.schema, path, out, ckpt)
    delete_rows_mor(spark, path, "id = 1", count=False)
    append_rows(spark, path, _mk(spark, [(3, 0, "c")]), ["bucket"])
    with pytest.raises(Exception, match="tombstone|ignoreChanges"):
        _run_stream(spark, df.schema, path, out, ckpt)
    q = (
        spark.readStream.format("lake_manifest")
        .schema(df.schema)
        .option("ignoreChanges", "true")
        .load(path)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.schema(df.schema).parquet(out)
    # the new file streamed; previously-emitted rows stay emitted
    assert got.filter("id = 3").count() == 1


def test_batch_reader_refuses_mor_tombstones(spark, tmp_path):
    """The batch reader reads files raw, so a snapshot whose rows a
    merge-on-read delete hid is refused, pointing at read_table."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        delete_rows_mor,
    )

    path = str(tmp_path / "t")
    df = _mk(spark, [(i, i % 3, "v%d" % i) for i in range(10)])
    publish_overwrite(spark, path, df, ["bucket"])
    delete_rows_mor(spark, path, "id < 5", count=False)
    assert read_table(spark, path).count() == 5
    with pytest.raises(Exception, match="read_table"):
        spark.read.format("lake_manifest").schema(df.schema).load(path).collect()
