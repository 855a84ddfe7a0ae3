"""Athena statement-surface tests: EXPLAIN, CTAS, UNLOAD, prepared
statements — each composed with governance."""

from __future__ import annotations

import pytest

from tf_aws_lakeformation_governed_datalake_demo_spark import (
    Engine,
    PermissionDeniedError,
)
from tf_aws_lakeformation_governed_datalake_demo_spark import fixtures as fx


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("stmtlake"))
    return Engine(spark, fx.bootstrap(spark, lake))


def test_explain_shows_governed_scan(engine):
    plan = engine.explain(
        "SELECT customer_id FROM sales_db.sales", principal="analyst"
    )
    # the analyst's row filter must appear as a pushed parquet filter
    assert "PushedFilters" in plan and "sales_region" in plan


def test_explain_denied_for_ungranted(engine):
    with pytest.raises(PermissionDeniedError):
        engine.explain("SELECT * FROM sales_db.sales", principal="nobody")


def test_ctas_materializes_governed_subset(engine, spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ctas") / "apac_sales")
    engine.ctas(
        "SELECT customer_id, sales_region, sales_amount FROM sales_db.sales",
        database="sales_db",
        table="apac_sales",
        location=out,
        principal="analyst",
    )
    # only the analyst's 8 APAC rows were materialized
    assert spark.read.parquet(out).count() == 8
    # creator owns the result table and can query it governed
    rows = engine.sql(
        "SELECT count(*) AS n FROM sales_db.apac_sales", principal="analyst"
    ).first()
    assert rows.n == 8
    # a different non-admin principal has no grant on it (implicit deny)
    with pytest.raises(PermissionDeniedError):
        engine.sql("SELECT * FROM sales_db.apac_sales", principal="nobody")


def test_ctas_partitioned(engine, spark, tmp_path_factory):
    import pathlib

    out = str(tmp_path_factory.mktemp("ctasp") / "by_region")
    engine.ctas(
        "SELECT customer_id, sales_region FROM sales_db.sales",
        database="sales_db",
        table="sales_by_region",
        location=out,
        principal="dataadmin",
        partition_by=["sales_region"],
    )
    assert any("sales_region=" in p.name for p in pathlib.Path(out).iterdir())
    assert engine.catalog.partitions("sales_db.sales_by_region") == [
        "sales_region=AMER", "sales_region=APAC", "sales_region=EMEA",
    ]


def test_unload_formats(engine, spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("unload")
    p = engine.unload(
        "SELECT customer_id, sales_amount FROM sales_db.sales",
        str(base / "pq"),
        principal="analyst",
        format="parquet",
    )
    assert spark.read.parquet(p).count() == 8
    c = engine.unload(
        "SELECT customer_id FROM sales_db.sales",
        str(base / "csv"),
        principal="analyst",
        format="csv",
    )
    assert spark.read.option("header", "true").csv(c).count() == 8


def test_prepared_statement_params(engine):
    engine.prepare(
        "sales_over",
        "SELECT customer_id, sales_amount FROM sales_db.sales "
        "WHERE sales_amount > ? AND sales_region = ? ORDER BY customer_id",
    )
    rows = engine.execute_prepared(
        "sales_over", (2000, "APAC"), principal="dataadmin"
    ).collect()
    assert rows and all(r.sales_amount > 2000 for r in rows)


def test_prepared_statement_escapes_injection(engine):
    engine.prepare(
        "by_region", "SELECT count(*) AS n FROM sales_db.sales WHERE sales_region = ?"
    )
    # a malicious parameter stays a literal — never breaks out of quotes
    row = engine.execute_prepared(
        "by_region", ("APAC' OR '1'='1",), principal="dataadmin"
    ).first()
    assert row.n == 0


def test_prepared_placeholder_in_literal_untouched(engine):
    engine.prepare(
        "q_lit",
        "SELECT 'what?' AS q, count(*) AS n FROM sales_db.sales WHERE sales_region = ?",
    )
    row = engine.execute_prepared("q_lit", ("EMEA",), principal="dataadmin").first()
    assert row.q == "what?" and row.n == 6


def test_prepared_unused_params_error(engine):
    engine.prepare("no_params", "SELECT 1 AS one")
    with pytest.raises(ValueError):
        engine.execute_prepared("no_params", ("extra",), principal="dataadmin")


def test_prepared_missing_params_error(engine):
    # too FEW params must fail fast with a clear message, not surface as
    # an opaque Spark parse error on the leftover '?' (round-2 ADVICE)
    engine.prepare(
        "two_params",
        "SELECT count(*) AS n FROM sales_db.sales "
        "WHERE sales_region = ? AND sales_amount > ?",
    )
    with pytest.raises(ValueError, match="missing parameter"):
        engine.execute_prepared("two_params", ("APAC",), principal="dataadmin")


def test_explain_does_not_execute(spark, tmp_path_factory):
    # EXPLAIN must never write a result set or record a query execution
    # (round-2 ADVICE: it used to run the full _execute path)
    import pathlib

    lake = str(tmp_path_factory.mktemp("explainlake"))
    results = tmp_path_factory.mktemp("explainresults")
    eng = Engine(spark, fx.bootstrap(spark, lake), results_dir=str(results))
    plan = eng.explain(
        "SELECT customer_id FROM sales_db.sales", principal="analyst"
    )
    assert "PushedFilters" in plan
    assert list(pathlib.Path(results).iterdir()) == []
    assert eng.executions == {} and eng.metrics["queries_submitted"] == 0


def test_governed_curation_composition(spark, sf_dir, tmp_path_factory):
    # The two halves compose: the documents corpus under row-level
    # security, queried through the governed engine with curation-style
    # SQL — a contractor principal sees only English documents.
    from tf_aws_lakeformation_governed_datalake_demo_spark import (
        DataCellsFilter,
        GovernedCatalog,
        TableDef,
    )

    cat = GovernedCatalog(spark)
    cat.create_database("corpus")
    cat.register_table(
        TableDef("corpus", "documents", f"{sf_dir}/documents.parquet")
    )
    cat.create_data_cells_filter(
        DataCellsFilter(
            name="en-only",
            database="corpus",
            table="documents",
            columns=("doc_id", "text", "lang"),
            row_filter="lang = 'en'",
        )
    )
    cat.grant("contractor", "SELECT", "corpus", "documents", via_filter="en-only")
    eng = Engine(spark, cat)
    rows = eng.sql(
        "SELECT lang, count(*) AS n, round(avg(length(text)), 1) AS avg_len "
        "FROM corpus.documents GROUP BY lang",
        principal="contractor",
    ).collect()
    assert [r.lang for r in rows] == ["en"]
    # and the column allowlist holds: n_chars/source are not visible
    qid = eng.submit(
        "SELECT source FROM corpus.documents", principal="contractor"
    )
    assert eng.status(qid).value == "FAILED"


def test_results_pagination_token(spark, engine):
    # L3 full parity: validate.sh pages with --max-items/NextToken; the
    # engine's results_page walks the same protocol.
    qid = engine.submit(
        "SELECT customer_id FROM sales_db.sales ORDER BY customer_id",
        principal="dataadmin",
    )
    page1, tok1 = engine.results_page(qid, max_rows=8)
    assert len(page1) == 8 and tok1 is not None
    page2, tok2 = engine.results_page(qid, max_rows=8, next_token=tok1)
    assert len(page2) == 8 and tok2 is not None
    page3, tok3 = engine.results_page(qid, max_rows=8, next_token=tok2)
    assert len(page3) == 4 and tok3 is None  # 20 rows total
    ids = [r.customer_id for r in page1 + page2 + page3]
    assert ids == sorted(ids) and len(set(ids)) == 20
    # exact-boundary page: token present only if more rows exist
    qid2 = engine.submit(
        "SELECT customer_id FROM sales_db.sales ORDER BY customer_id LIMIT 8",
        principal="dataadmin",
    )
    page, tok = engine.results_page(qid2, max_rows=8)
    assert len(page) == 8 and tok is None


def test_cleanup_results_removes_files(spark, tmp_path_factory):
    import pathlib

    lake = str(tmp_path_factory.mktemp("cleanlake"))
    results = tmp_path_factory.mktemp("cleanresults")
    eng = Engine(spark, fx.bootstrap(spark, lake), results_dir=str(results))
    qid = eng.submit("SELECT * FROM sales_db.sales", principal="dataadmin")
    assert pathlib.Path(eng.executions[qid].results_path).exists()
    assert eng.cleanup_results() == 1
    assert list(pathlib.Path(results).iterdir()) == []
    assert eng.executions[qid].results_path is None
    # audit/execution record remains
    assert eng.status(qid).value == "SUCCEEDED"


# ---------------------------------------------------- L7 result reuse


@pytest.fixture()
def reuse_engine(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("reuselake"))
    return Engine(spark, fx.bootstrap(spark, lake))


_REUSE_SQL = (
    "SELECT sales_region, COUNT(*) AS n FROM sales_db.sales GROUP BY sales_region"
)


def test_result_reuse_hit_and_lineage(reuse_engine):
    eng = reuse_engine
    q1 = eng.submit(_REUSE_SQL, principal="analyst", reuse_max_age=3600)
    q2 = eng.submit(_REUSE_SQL, principal="analyst", reuse_max_age=3600)
    assert eng.executions[q2].reused_from == q1
    assert eng.metrics["queries_reused"] == 1
    assert sorted(map(tuple, eng.results(q1))) == sorted(map(tuple, eng.results(q2)))
    # the audit trail records the reuse with its producing query id
    statuses = [e.get("status") for e in eng.catalog.audit.events]
    assert any(s == f"REUSED:{q1}" for s in statuses)


def test_result_reuse_requires_opt_in_and_same_principal(reuse_engine):
    eng = reuse_engine
    # a producer that did NOT opt in populates nothing
    q0 = eng.submit(_REUSE_SQL, principal="analyst")
    q1 = eng.submit(_REUSE_SQL, principal="analyst", reuse_max_age=3600)
    assert eng.executions[q1].reused_from is None  # q0 left no cache entry
    # no reuse_max_age on the consumer -> always fresh
    q2 = eng.submit(_REUSE_SQL, principal="analyst")
    assert eng.executions[q2].reused_from is None
    # a different principal has a different governed rewrite -> no reuse
    q3 = eng.submit(_REUSE_SQL, principal="data_admin", reuse_max_age=3600)
    assert eng.executions[q3].reused_from is None
    # zero age window -> expired immediately
    q4 = eng.submit(_REUSE_SQL, principal="analyst", reuse_max_age=0)
    assert eng.executions[q4].reused_from in (None, q1)  # sub-ms clock edge
    assert eng.executions[q1].reused_from is None


def test_result_reuse_invalidated_by_data_change(reuse_engine):
    import glob
    import os

    eng = reuse_engine
    q1 = eng.submit(_REUSE_SQL, principal="analyst", reuse_max_age=3600)
    # new data lands in the table location -> fingerprint changes ->
    # the cached result must NOT be served
    loc = eng.catalog.tables["sales_db.sales"].location
    f = glob.glob(f"{loc}/**/*.parquet", recursive=True)[0]
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    q2 = eng.submit(_REUSE_SQL, principal="analyst", reuse_max_age=3600)
    assert eng.executions[q2].reused_from is None
    # and the fresh result repopulates the cache for the next caller
    q3 = eng.submit(_REUSE_SQL, principal="analyst", reuse_max_age=3600)
    assert eng.executions[q3].reused_from == q2


def test_result_reuse_invalidated_by_governance_change(reuse_engine):
    eng = reuse_engine
    q1 = eng.submit(_REUSE_SQL, principal="analyst", reuse_max_age=3600)
    # ANY governance metadata mutation (here: a new grant) must
    # invalidate the cache — a policy change can never be ridden
    eng.catalog.grant("auditor", "SELECT", "sales_db", "sales")
    q2 = eng.submit(_REUSE_SQL, principal="analyst", reuse_max_age=3600)
    assert eng.executions[q2].reused_from is None


def test_result_reuse_view_gated_on_base_table_storage(reuse_engine):
    import glob
    import os

    eng = reuse_engine
    vsql = "SELECT sales_region, COUNT(*) AS n FROM sales_db.sales_masked GROUP BY sales_region"
    q1 = eng.submit(vsql, principal="analyst", reuse_max_age=3600)
    q2 = eng.submit(vsql, principal="analyst", reuse_max_age=3600)
    assert eng.executions[q2].reused_from == q1  # views CAN reuse...
    # ...but new data behind the view's BASE table must invalidate
    loc = eng.catalog.tables["sales_db.sales"].location
    f = glob.glob(f"{loc}/**/*.parquet", recursive=True)[0]
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    q3 = eng.submit(vsql, principal="analyst", reuse_max_age=3600)
    assert eng.executions[q3].reused_from is None


def test_cleanup_of_reused_execution_keeps_producer_artifact(
    spark, tmp_path_factory
):
    import os

    lake = str(tmp_path_factory.mktemp("reuselake2"))
    results = str(tmp_path_factory.mktemp("reuseres"))
    eng = Engine(spark, fx.bootstrap(spark, lake), results_dir=results)
    q1 = eng.submit(_REUSE_SQL, principal="analyst", reuse_max_age=3600)
    q2 = eng.submit(_REUSE_SQL, principal="analyst", reuse_max_age=3600)
    assert eng.executions[q2].reused_from == q1
    path = eng.executions[q1].results_path
    assert path and os.path.isdir(path)
    # targeted cleanup of the REUSED execution detaches its pointer only
    eng.cleanup_results(q2)
    assert eng.executions[q2].results_path is None
    assert eng.executions[q1].results_path == path and os.path.isdir(path)
    # cleanup of the producer removes the files and detaches everyone
    eng.cleanup_results(q1)
    assert eng.executions[q1].results_path is None
    assert not os.path.isdir(path)


def test_privacy_gated_ctas_export(spark, tmp_path_factory):
    """The release-review flow the k-anonymity audit exists for: an
    analyst's CTAS export of aggregate sales data is (a) governed — only
    their row/column slice feeds the export — and (b) releasable only at
    group sizes meeting k, enforced by a HAVING bound in the export
    query; the audit shape (privacy_k_anonymity) is the same
    group-size-then-decide computation on the governed slice."""
    lake = str(tmp_path_factory.mktemp("kexplake"))
    out = str(tmp_path_factory.mktemp("kexp") / "release")
    eng = Engine(spark, fx.bootstrap(spark, lake))
    K = 3
    eng.ctas(
        "SELECT sales_region, COUNT(*) AS n, ROUND(SUM(sales_amount), 2) AS amt "
        "FROM sales_db.sales GROUP BY sales_region "
        f"HAVING COUNT(*) >= {K}",
        database="sales_db",
        table="release_agg",
        location=out,
        principal="analyst",
    )
    rows = eng.sql(
        "SELECT * FROM sales_db.release_agg", principal="analyst"
    ).collect()
    # the analyst's row security restricts the export to APAC, and the
    # released group meets k
    assert [r.sales_region for r in rows] == ["APAC"]
    assert all(r.n >= K for r in rows)
    # the exported table carries no PII columns (the analyst allowlist
    # excluded them before aggregation)
    cols = {f.name for f in spark.read.parquet(out).schema.fields}
    assert cols.isdisjoint({"customer_email", "ssn"})


# ---------------------------------------------------------- maintenance
def test_maintain_requires_admin_or_all(spark, tmp_path):
    """Maintenance rewrites storage: SELECT-via-filter does not qualify;
    admin and table-ALL do; denials and successes are audited."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        PermissionDeniedError,
    )

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    q = f"{fx.DATABASE}.{fx.TABLE}"

    with pytest.raises(PermissionDeniedError):
        eng.maintain(q, "vacuum_artifacts", principal="analyst")
    # dataadmin holds an unconditioned ALL grant on the table
    out = eng.maintain(q, "vacuum_artifacts", principal="dataadmin")
    assert out == {"removed": []}
    # a real catalog admin bypasses grants entirely
    cat.set_admins(["ops"])
    assert eng.maintain(q, "vacuum_artifacts", principal="ops") == {"removed": []}

    audited = [
        (e["query"], e["status"])
        for e in cat.audit.events
        if e["query"].startswith("MAINTAIN")
    ]
    assert ("MAINTAIN vacuum_artifacts " + q, "denied") in audited
    assert ("MAINTAIN vacuum_artifacts " + q, "ok") in audited


def test_maintain_compact_preserves_governed_reads(spark, sf_dir, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark import TableDef
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import load

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    # register a fragmented governed table inside the lake root
    loc = f"{lake}/events_frag"
    load(spark, sf_dir, "events").repartition(16).write.parquet(loc)
    cat.register_table(TableDef(fx.DATABASE, "events_frag", loc))
    cat.set_admins(["ops"])
    before = eng.sql(
        f"SELECT count(*) AS n FROM {fx.DATABASE}.events_frag",
        principal="ops",
    ).first().n
    stats = eng.maintain(
        f"{fx.DATABASE}.events_frag", "compact", principal="ops"
    )
    assert stats["files_after"] < stats["files_before"]
    after = eng.sql(
        f"SELECT count(*) AS n FROM {fx.DATABASE}.events_frag",
        principal="ops",
    ).first().n
    assert after == before


def test_maintain_refuses_location_outside_lake_root(spark, sf_dir, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark import TableDef
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import load

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    outside = str(tmp_path / "outside")
    load(spark, sf_dir, "nation").write.parquet(outside)
    cat.register_table(TableDef(fx.DATABASE, "outside_t", outside))
    cat.set_admins(["ops"])
    with pytest.raises(ValueError, match="lake_root"):
        eng.maintain(f"{fx.DATABASE}.outside_t", "compact", principal="ops")


def test_maintain_expire_versions_on_governed_dimension(spark, sf_dir, tmp_path):
    import datetime

    from tf_aws_lakeformation_governed_datalake_demo_spark import TableDef
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import load
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        scd2_apply,
        scd2_partition_value,
    )
    from pyspark.sql import functions as F

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    cat.set_admins(["ops"])
    dim = f"{lake}/user_dim"
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal").filter(
        F.col("c_custkey") <= 50
    )
    (
        c.withColumn("effective_from", F.lit(datetime.datetime(2024, 1, 1)))
        .withColumn("effective_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .withColumn("effective_month", scd2_partition_value(F.col("effective_from")))
        .write.partitionBy("effective_month")
        .parquet(dim)
    )
    scd2_apply(
        spark, dim,
        c.withColumn("c_acctbal", F.col("c_acctbal") + 1),
        ["c_custkey"], ["c_acctbal"], datetime.datetime(2024, 2, 1),
        partition_col="effective_month",
    )
    cat.register_table(
        TableDef(fx.DATABASE, "user_dim", dim, partition_keys=("effective_month",))
    )
    out = eng.maintain(
        f"{fx.DATABASE}.user_dim",
        "expire_versions",
        principal="ops",
        before=datetime.datetime(2024, 3, 1),
        partition_col="effective_month",
    )
    assert out["rows_expired"] > 0 and out["partitions_rewritten"] == 1
    # only current rows remain
    left = spark.read.parquet(dim)
    assert left.filter(~F.col("is_current")).count() == 0


def test_maintain_delete_rows_governed_erasure(spark, sf_dir, tmp_path):
    """The governed GDPR path: an admin erases one user's rows through
    Engine.maintain; analysts can no longer observe them; the audit
    trail records the erasure; non-admins are denied."""
    from tf_aws_lakeformation_governed_datalake_demo_spark import TableDef
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        SELECT,
        PermissionDeniedError,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import load
    from pyspark.sql import functions as F

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    cat.set_admins(["ops"])
    loc = f"{lake}/events_gdpr"
    load(spark, sf_dir, "events").withColumn(
        "bucket", F.col("user_id") % 4
    ).write.partitionBy("bucket").parquet(loc)
    cat.register_table(
        TableDef(fx.DATABASE, "events_gdpr", loc, partition_keys=("bucket",))
    )
    cat.grant("analyst2", SELECT, fx.DATABASE, "events_gdpr")

    with pytest.raises(PermissionDeniedError):
        eng.maintain(
            f"{fx.DATABASE}.events_gdpr", "delete_rows",
            principal="analyst2", predicate="user_id = 7",
        )
    stats = eng.maintain(
        f"{fx.DATABASE}.events_gdpr", "delete_rows",
        principal="ops", predicate="user_id = 7", partition_col="bucket",
    )
    assert stats["rows_deleted"] > 0 and stats["partitions_rewritten"] == 1
    seen = eng.sql(
        f"SELECT count(*) AS n FROM {fx.DATABASE}.events_gdpr WHERE user_id = 7",
        principal="analyst2",
    ).first().n
    assert seen == 0
    # the erasure predicate is part of the audit trail (round-8)
    assert any(
        e["query"]
        == f"MAINTAIN delete_rows {fx.DATABASE}.events_gdpr WHERE user_id = 7"
        and e["status"] == "ok"
        for e in cat.audit.events
    )


def test_maintain_vacuum_forwards_age_and_expire_derives_partition(
    spark, sf_dir, tmp_path
):
    """maintain('vacuum_artifacts') must honor the age guard (default
    3600 s — fresh artifacts survive; explicit 0 reaps), and
    maintain('expire_versions') must derive partition pruning from the
    table's declared partition keys."""
    import datetime
    import os as _os
    import time as _time
    from pathlib import Path

    from tf_aws_lakeformation_governed_datalake_demo_spark import TableDef
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import load
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        scd2_apply,
        scd2_partition_value,
    )
    from pyspark.sql import functions as F

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    cat.set_admins(["ops"])

    dim = f"{lake}/dim"
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal").filter(
        F.col("c_custkey") <= 30
    )
    (
        c.withColumn("effective_from", F.lit(datetime.datetime(2024, 1, 1)))
        .withColumn("effective_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .withColumn("effective_month", scd2_partition_value(F.col("effective_from")))
        .write.partitionBy("effective_month")
        .parquet(dim)
    )
    scd2_apply(
        spark, dim, c.withColumn("c_acctbal", F.col("c_acctbal") + 1),
        ["c_custkey"], ["c_acctbal"], datetime.datetime(2024, 2, 1),
        partition_col="effective_month",
    )
    cat.register_table(
        TableDef(fx.DATABASE, "dim", dim, partition_keys=("effective_month",))
    )

    # age guard: fresh artifact survives the default, explicit 0 reaps
    fresh = Path(dim) / "_staged_probe"
    fresh.mkdir()
    assert eng.maintain(f"{fx.DATABASE}.dim", "vacuum_artifacts", principal="ops") == {
        "removed": []
    }
    assert fresh.exists()
    out = eng.maintain(
        f"{fx.DATABASE}.dim", "vacuum_artifacts", principal="ops",
        min_age_seconds=0,
    )
    assert [r for r in out["removed"] if "_staged_probe" in r]

    # expire derives partition_col from the catalog: bounded rewrite
    stats = eng.maintain(
        f"{fx.DATABASE}.dim", "expire_versions", principal="ops",
        before=datetime.datetime(2024, 3, 1),
    )
    assert stats["rows_expired"] > 0 and stats["partitions_rewritten"] == 1


def test_maintain_expire_versions_multikey_table_raises(spark, tmp_path):
    """Round-7 ADVICE (medium): on a table with multiple partition keys
    expire_versions' single-col derivation would fall through with
    partition_col=None and swap in an unpartitioned full rewrite,
    silently destroying the hive layout. Refuse instead, audited."""
    import datetime

    from tf_aws_lakeformation_governed_datalake_demo_spark import TableDef

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    cat.set_admins(["ops"])
    loc = f"{lake}/dim2"
    spark.createDataFrame(
        [(1, "a", 1, "2024-01")], "id long, v string, b int, m string"
    ).write.partitionBy("b", "m").parquet(loc)
    cat.register_table(
        TableDef(fx.DATABASE, "dim2", loc, partition_keys=("b", "m"))
    )
    with pytest.raises(ValueError, match="at most one partition key"):
        eng.maintain(
            f"{fx.DATABASE}.dim2",
            "expire_versions",
            principal="ops",
            before=datetime.datetime(2024, 6, 1),
        )
    # table untouched, denial audited as failed
    assert spark.read.parquet(loc).count() == 1
    assert any(
        e["query"].startswith("MAINTAIN expire_versions")
        and e["status"] == "failed"
        for e in cat.audit.events
    )


def test_maintain_delete_rows_pending_column_denied_and_audited(spark, tmp_path):
    """Round-7 VERDICT #6: fail-closed schema evolution extends to
    maintenance — a maintainer cannot erase rows BY a pending-approval
    column; the erasure predicate is audited verbatim (denials too)."""
    from pyspark.sql import types as T

    from tf_aws_lakeformation_governed_datalake_demo_spark import TableDef

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    cat.set_admins(["ops"])
    loc = f"{lake}/users"
    spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1), (3, "c", 0)], "id long, nm string, b int"
    ).write.partitionBy("b").parquet(loc)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("nm", T.StringType()),
            T.StructField("b", T.IntegerType()),
        ]
    )
    q = f"{fx.DATABASE}.users"
    cat.register_table(
        TableDef(fx.DATABASE, "users", loc, schema=schema, partition_keys=("b",))
    )
    cat.evolve_table_schema(q, [T.StructField("churn_score", T.DoubleType())])

    with pytest.raises(PermissionDeniedError, match="pending-approval"):
        eng.maintain(
            q, "delete_rows", principal="ops", predicate="churn_score > 0.5"
        )
    assert spark.read.parquet(loc).count() == 3  # nothing deleted
    denied = [
        e
        for e in cat.audit.events
        if e["status"] == "denied" and "churn_score > 0.5" in e["query"]
    ]
    assert denied, cat.audit.events  # predicate audited verbatim on denial

    # approval releases the column; non-pending predicates always work
    cat.approve_evolved_columns(q, ["churn_score"])
    out = eng.maintain(q, "delete_rows", principal="ops", predicate="id = 2")
    assert out["rows_deleted"] == 1
    assert any(
        e["status"] == "ok" and e["query"].endswith("WHERE id = 2")
        for e in cat.audit.events
    )


def test_maintain_mor_delete_and_purge_governed(spark, sf_dir, tmp_path):
    """Merge-on-read maintenance surface (round-8): delete_rows_mor is
    a governed metadata-only tombstone commit (verbatim-predicate
    audit, pending-column fail-closed like the eager path); analysts
    immediately stop observing matched rows; purge_deletes later
    materializes and clears the tombstones without changing results."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tf_aws_lakeformation_governed_datalake_demo_spark import TableDef
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        SELECT,
        PermissionDeniedError,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        load,
        publish_overwrite,
        read_manifest,
    )

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    cat.set_admins(["ops"])
    loc = f"{lake}/events_mor"
    ev = load(spark, sf_dir, "events").withColumn(
        "bucket", (F.col("user_id") % 4).cast("int")
    )
    publish_overwrite(spark, loc, ev, ["bucket"])
    cat.register_table(
        TableDef(
            fx.DATABASE,
            "events_mor",
            loc,
            schema=ev.schema,
            partition_keys=("bucket",),
        )
    )
    cat.grant("analyst2", SELECT, fx.DATABASE, "events_mor")
    q = f"{fx.DATABASE}.events_mor"

    with pytest.raises(PermissionDeniedError):
        eng.maintain(
            q, "delete_rows_mor", principal="analyst2", predicate="user_id = 7"
        )
    files_before = read_manifest(loc)["files"]
    out = eng.maintain(
        q, "delete_rows_mor", principal="ops", predicate="user_id = 7"
    )
    assert out["rows_deleted"] > 0 and out["tombstones"] == 1
    # metadata-only: no file moved, and the governed read hides the rows
    assert read_manifest(loc)["files"] == files_before
    seen = (
        eng.sql(
            f"SELECT count(*) AS n FROM {q} WHERE user_id = 7",
            principal="analyst2",
        )
        .first()
        .n
    )
    assert seen == 0
    assert any(
        e["query"] == f"MAINTAIN delete_rows_mor {q} WHERE user_id = 7"
        and e["status"] == "ok"
        for e in cat.audit.events
    )

    # pending-column fail-closed applies to the MoR path too
    cat.evolve_table_schema(q, [T.StructField("risk", T.DoubleType())])
    with pytest.raises(PermissionDeniedError, match="pending-approval"):
        eng.maintain(
            q, "delete_rows_mor", principal="ops", predicate="risk > 0.5"
        )

    total_before = (
        eng.sql(f"SELECT count(*) AS n FROM {q}", principal="ops").first().n
    )
    purged = eng.maintain(q, "purge_deletes", principal="ops")
    assert purged["tombstones_cleared"] == 1
    assert not read_manifest(loc).get("delete_predicates")
    total_after = (
        eng.sql(f"SELECT count(*) AS n FROM {q}", principal="ops").first().n
    )
    assert total_after == total_before


def test_maintain_evolve_partitioning_governed(spark, sf_dir, tmp_path):
    """The governed layout change: admin-gated, audited with the new
    spec, catalog partition_keys follow, pending columns refused, and a
    later governed compact derives the NEW layout."""
    from tf_aws_lakeformation_governed_datalake_demo_spark import TableDef
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        load,
        publish_overwrite,
        read_manifest,
    )
    from pyspark.sql import types as T

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    loc = f"{lake}/docs_evo"
    d = load(spark, sf_dir, "documents")
    publish_overwrite(spark, loc, d, ["lang"])
    cat.register_table(
        TableDef(
            fx.DATABASE,
            "docs_evo",
            loc,
            schema=d.schema,
            partition_keys=("lang",),
        )
    )
    cat.set_admins(["ops"])
    q = f"{fx.DATABASE}.docs_evo"

    # non-admin without ALL: denied and audited
    with pytest.raises(PermissionDeniedError):
        eng.maintain(
            q, "evolve_partitioning", principal="analyst",
            new_partition_by=["source"],
        )

    # pending column cannot become the physical layout (directory names
    # leak values to anyone who can list storage)
    cat.evolve_table_schema(q, [T.StructField("tier", T.StringType())])
    with pytest.raises(PermissionDeniedError, match="pending"):
        eng.maintain(
            q, "evolve_partitioning", principal="ops",
            new_partition_by=["tier"],
        )

    res = eng.maintain(
        q, "evolve_partitioning", principal="ops",
        new_partition_by=["source"],
    )
    assert res["partition_by"] == ["source"]
    assert cat.tables[q].partition_keys == ("source",)
    assert read_manifest(loc)["partition_by"] == ["source"]
    lines = [
        e for e in cat.audit.events
        if "MAINTAIN evolve_partitioning" in e["query"]
    ]
    assert any("TO (source)" in e["query"] and e["status"] == "ok"
               for e in lines)
    assert any(e["status"] == "denied" for e in lines)

    # governed compact now derives the NEW layout and migrates the
    # mixed-spec table back to single-spec
    stats = eng.maintain(q, "compact", principal="ops")
    m = read_manifest(loc)
    assert "partition_specs" not in m and m["partition_by"] == ["source"]
    n = eng.sql(
        f"SELECT count(*) AS n FROM {q}", principal="ops"
    ).first().n
    assert n == d.count()


def test_maintain_rename_column_migrates_policies(spark, tmp_path):
    """Governed RENAME COLUMN: the storage commit plus identity-
    preserving migration of every policy object naming the column —
    schema, tags, comments, and the analyst's data-cells filter
    (allowlist AND row predicate), whose enforcement must be unchanged
    under the new name. Referencing views fail closed."""
    from tf_aws_lakeformation_governed_datalake_demo_spark import TableDef
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        DataCellsFilter,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
        read_manifest,
    )

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    loc = f"{lake}/docs_ren"
    d = spark.createDataFrame(
        [(i, f"t{i}", ["en", "de"][i % 2], i * 10) for i in range(10)],
        "doc_id long, text string, lang string, n_chars long",
    )
    publish_overwrite(spark, loc, d, ["lang"])
    cat.register_table(
        TableDef(
            fx.DATABASE,
            "docs_ren",
            loc,
            schema=d.schema,
            partition_keys=("lang",),
            column_comments={"n_chars": "document length"},
        )
    )
    cat.create_data_cells_filter(
        DataCellsFilter(
            name="short-docs",
            database=fx.DATABASE,
            table="docs_ren",
            columns=("doc_id", "lang", "n_chars"),
            row_filter="n_chars <= 50",
        )
    )
    cat.grant("reader", "SELECT", fx.DATABASE, "docs_ren",
              via_filter="short-docs")
    cat.set_admins(["ops"])
    q = f"{fx.DATABASE}.docs_ren"

    before = sorted(
        (r.doc_id, r.n_chars)
        for r in eng.sql(
            f"SELECT doc_id, n_chars FROM {q}", principal="reader"
        ).collect()
    )
    assert before == [(i, i * 10) for i in range(6)]  # predicate enforced

    # denial for non-admin, then the governed rename
    with pytest.raises(PermissionDeniedError):
        eng.maintain(q, "rename_column", principal="reader",
                     old="n_chars", new="char_count")
    eng.maintain(q, "rename_column", principal="ops",
                 old="n_chars", new="char_count")

    # storage + catalog schema + policy objects all follow
    assert read_manifest(loc)["column_mapping"] == {"char_count": "n_chars"}
    assert "char_count" in [f.name for f in cat.tables[q].schema.fields]
    assert cat.tables[q].column_comments == {"char_count": "document length"}
    flt = cat.filters["short-docs"]
    assert flt.columns == ("doc_id", "lang", "char_count")
    assert flt.row_filter == "char_count <= 50"

    # the reader's access is IDENTICAL under the new name
    after = sorted(
        (r.doc_id, r.char_count)
        for r in eng.sql(
            f"SELECT doc_id, char_count FROM {q}", principal="reader"
        ).collect()
    )
    assert after == before
    with pytest.raises(Exception):  # old name is gone
        eng.sql(f"SELECT n_chars FROM {q}", principal="ops")

    # a view naming the column fails closed
    cat.create_view(fx.DATABASE, "docs_v",
                    f"SELECT char_count FROM {fx.DATABASE}.docs_ren")
    with pytest.raises(ValueError, match="view"):
        cat.rename_column(q, "char_count", "n2")


def test_maintain_tag_and_drop_tag_governed(spark, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark import TableDef
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        list_tags,
        publish_overwrite,
    )

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    loc = f"{lake}/t_tags"
    d = spark.createDataFrame([(1, "a")], "id long, grp string")
    publish_overwrite(spark, loc, d, ["grp"])
    cat.register_table(TableDef(fx.DATABASE, "t_tags", loc, schema=d.schema))
    cat.set_admins(["ops"])
    q = f"{fx.DATABASE}.t_tags"
    with pytest.raises(PermissionDeniedError):
        eng.maintain(q, "tag", principal="analyst", name="pin1")
    res = eng.maintain(q, "tag", principal="ops", name="pin1")
    assert res == {"name": "pin1", "version": 1}
    assert list_tags(loc) == {"pin1": 1}
    assert eng.maintain(q, "drop_tag", principal="ops", name="pin1") == {
        "dropped": True
    }
    lines = [
        e for e in cat.audit.events if "MAINTAIN tag" in e["query"]
        or "MAINTAIN drop_tag" in e["query"]
    ]
    assert any("pin1" in e["query"] and e["status"] == "ok" for e in lines)
    assert any(e["status"] == "denied" for e in lines)


def test_maintain_branch_lifecycle_governed(spark, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark import TableDef
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
        list_branches,
        publish_overwrite,
        read_manifest,
    )

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    loc = f"{lake}/t_branch"
    d = spark.createDataFrame([(1, "a")], "id long, grp string")
    publish_overwrite(spark, loc, d, ["grp"])
    cat.register_table(TableDef(fx.DATABASE, "t_branch", loc, schema=d.schema))
    cat.set_admins(["ops"])
    q = f"{fx.DATABASE}.t_branch"
    # non-admin denied on every lifecycle action
    for action in ("create_branch", "fast_forward", "drop_branch"):
        with pytest.raises(PermissionDeniedError):
            eng.maintain(q, action, principal="analyst", name="etl")
    res = eng.maintain(q, "create_branch", principal="ops", name="etl")
    assert res == {"name": "etl", "head": 1, "base": 1}
    # branch writes go through the lake layer; publication is governed
    append_rows(
        spark, loc,
        spark.createDataFrame([(2, "b")], "id long, grp string"),
        ["grp"], branch="etl",
    )
    assert read_manifest(loc)["version"] == 1  # unpublished
    res = eng.maintain(q, "fast_forward", principal="ops", name="etl")
    assert read_manifest(loc)["version"] == res["version"] > 1
    assert eng.maintain(q, "drop_branch", principal="ops", name="etl") == {
        "dropped": True
    }
    assert list_branches(loc) == {}
    audited = [
        e for e in cat.audit.events if "MAINTAIN fast_forward" in e["query"]
    ]
    assert audited and audited[-1]["status"] == "ok"
    denied = [
        e
        for e in cat.audit.events
        if "MAINTAIN create_branch" in e["query"] and e["status"] == "denied"
    ]
    assert denied


def test_maintain_optimize_binpack_governed(spark, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark import TableDef
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
        publish_overwrite,
        read_table,
    )

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    eng = Engine(spark, cat)
    loc = f"{lake}/t_pack"
    d = spark.createDataFrame([(i, "a") for i in range(10)], "id long, grp string")
    publish_overwrite(spark, loc, d, ["grp"])
    for k in range(3):
        append_rows(
            spark, loc,
            spark.createDataFrame([(100 + k, "a")], "id long, grp string"),
            ["grp"],
        )
    cat.register_table(TableDef(fx.DATABASE, "t_pack", loc, schema=d.schema))
    cat.set_admins(["ops"])
    q = f"{fx.DATABASE}.t_pack"
    with pytest.raises(PermissionDeniedError):
        eng.maintain(q, "optimize_binpack", principal="analyst")
    res = eng.maintain(q, "optimize_binpack", principal="ops",
                       target_rows=1000)
    assert res["files_after"] < res["files_before"]
    assert read_table(spark, loc).count() == 13
    assert any(
        "MAINTAIN optimize_binpack" in e["query"] and e["status"] == "ok"
        for e in cat.audit.events
    )
