"""ANALYZE TABLE + cost-based broadcast (round 12).

Covers: the statement grammar, the zero-scan manifest row-count fast
path, single-pass column stats, the admin-or-ALL gate (stats are
table-wide unfiltered aggregates — a conditioned principal must not
read a masked column's min/max through them), catalog persistence
(stats survive save/load, fingerprint unchanged so L7 result reuse is
never invalidated by an ANALYZE), and the plan pin: a governed join
against a known-small table plans as a broadcast join from row counts
alone, with Catalyst's byte-based auto-broadcast disabled.
"""

from __future__ import annotations

import pytest

from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
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
from tf_aws_lakeformation_governed_datalake_demo_spark.statements import (
    AnalyzeStatement,
    UnsupportedStatementError,
    parse_statement,
)


# ---------------------------------------------------------- grammar
def test_parse_analyze_forms():
    s = parse_statement("ANALYZE TABLE db.t COMPUTE STATISTICS")
    assert isinstance(s, AnalyzeStatement)
    assert (s.target, s.columns) == ("db.t", ())
    s = parse_statement(
        "analyze table db.t compute statistics for columns a, b"
    )
    assert s.columns == ("a", "b")
    s = parse_statement(
        "ANALYZE TABLE db.t COMPUTE STATISTICS FOR ALL COLUMNS"
    )
    assert s.columns == ("*",)


@pytest.mark.parametrize(
    "bad",
    [
        "ANALYZE db.t COMPUTE STATISTICS",  # TABLE keyword required
        "ANALYZE TABLE db.t",  # bare ANALYZE does nothing — refuse
        "ANALYZE TABLE t COMPUTE STATISTICS",  # unqualified name
        "ANALYZE TABLE db.t COMPUTE STATISTICS FOR COLUMNS a, a",  # dup
        "ANALYZE TABLE db.t COMPUTE STATISTICS FOR COLUMNS f(x)",  # expr
        "ANALYZE TABLE db.t COMPUTE STATISTICS FOR COLUMNS",  # empty
    ],
)
def test_parse_analyze_refusals(bad):
    with pytest.raises(UnsupportedStatementError):
        parse_statement(bad)


# ------------------------------------------------------- integration
@pytest.fixture()
def env(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("analyze"))
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    dim = spark.createDataFrame(
        [(i, f"g{i % 3}", None if i == 7 else i * 10) for i in range(20)],
        "id long, grp string, v long",
    )
    publish_overwrite(spark, f"{lake}/dim", dim, ["grp"])
    cat.register_table(
        TableDef(
            "db", "dim", f"{lake}/dim",
            schema=dim.schema, partition_keys=("grp",),
        )
    )
    fact = spark.createDataFrame(
        [(i, i % 20, float(i)) for i in range(500)],
        "fid long, id long, amt double",
    )
    publish_overwrite(spark, f"{lake}/fact", fact, None)
    cat.register_table(
        TableDef("db", "fact", f"{lake}/fact", schema=fact.schema)
    )
    return cat, Engine(spark, cat), lake


def test_analyze_rowcount_fast_path_is_zero_scan(env, monkeypatch):
    """No FOR COLUMNS on a manifest table: the row count comes from the
    manifest's footer counts — no governed scan is even constructed."""
    cat, eng, _ = env

    def _boom(*a, **k):  # any scan attempt fails the test loudly
        raise AssertionError("ANALYZE fast path constructed a scan")

    monkeypatch.setattr(GovernedCatalog, "table", _boom)
    res = eng.analyze_table("db.dim", principal="ops")
    assert res["row_count"] == 20
    assert res["snapshot_version"] == 1
    assert res["columns"] == {}
    assert cat.tables["db.dim"].stats["row_count"] == 20


def test_analyze_column_stats_single_pass(env):
    cat, eng, _ = env
    out = eng.sql(
        "ANALYZE TABLE db.dim COMPUTE STATISTICS FOR ALL COLUMNS", "ops"
    ).first()
    assert out.row_count == 20
    assert out.columns_analyzed == 3
    assert out.snapshot_version == 1
    st = cat.tables["db.dim"].stats["columns"]
    assert st["v"]["null_count"] == 1
    assert st["id"]["null_count"] == 0
    assert st["id"]["min"] == "0" and st["id"]["max"] == "19"
    assert st["grp"]["min"] == "g0" and st["grp"]["max"] == "g2"
    # HLL NDV: exact in sparse mode at these cardinalities, but only a
    # band is contractual
    assert 2 <= st["grp"]["ndv_approx"] <= 4
    assert 15 <= st["id"]["ndv_approx"] <= 25


def test_analyze_refuses_unknown_and_pending_columns(env):
    cat, eng, _ = env
    with pytest.raises(ValueError, match="declares no column"):
        eng.analyze_table("db.dim", ["nope"], principal="ops")
    cat.tables["db.dim"].pending_columns.add("v")
    try:
        with pytest.raises(ValueError, match="pending"):
            eng.analyze_table("db.dim", ["v"], principal="ops")
        # FOR ALL COLUMNS silently skips the quarantined column
        res = eng.analyze_table("db.dim", ["*"], principal="ops")
        assert set(res["columns"]) == {"id", "grp"}
    finally:
        cat.tables["db.dim"].pending_columns.discard("v")


def test_analyze_gate_denies_conditioned_principal(env):
    cat, eng, _ = env
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        DataCellsFilter,
    )

    cat.create_data_cells_filter(
        DataCellsFilter(
            name="f",
            database="db",
            table="dim",
            columns=("id", "grp"),
            row_filter="grp = 'g0'",
        )
    )
    cat.grant("analyst", "SELECT", "db", "dim", via_filter="f")
    with pytest.raises(PermissionDeniedError):
        eng.sql("ANALYZE TABLE db.dim COMPUTE STATISTICS", "analyst")
    denied = [
        e
        for e in cat.audit.events
        if e["status"] == "denied" and e["query"].startswith("ANALYZE TABLE")
    ]
    assert denied, "denied ANALYZE must be audited"
    # an unconditioned ALL grant qualifies
    cat.grant("owner", "ALL", "db", "dim")
    assert eng.analyze_table("db.dim", principal="owner")["row_count"] == 20


def test_analyze_stats_persist_and_fingerprint_stable(env):
    cat, eng, lake = env
    fp_before = cat.governance_fingerprint()
    eng.analyze_table("db.dim", ["id"], principal="ops")
    assert cat.governance_fingerprint() == fp_before, (
        "ANALYZE must not churn the governance fingerprint — stats are "
        "planner hints, and result reuse stays valid across a refresh"
    )
    cat.save()
    loaded = GovernedCatalog.load(cat.spark, lake)
    assert loaded.tables["db.dim"].stats["row_count"] == 20
    assert loaded.tables["db.dim"].stats["columns"]["id"]["max"] == "19"


# ------------------------------------------------ broadcast plan pin
def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def no_auto_broadcast(spark):
    """Disable Catalyst's byte-based auto-broadcast so the pin isolates
    the engine's row-count hint."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, old)


def test_manifest_rowcount_drives_broadcast_join(env, no_auto_broadcast):
    cat, eng, _ = env
    q = (
        "SELECT d.grp, sum(f.amt) AS total FROM db.fact f "
        "JOIN db.dim d ON f.id = d.id GROUP BY d.grp"
    )
    plan = _physical(eng.sql(q, "ops"))
    assert "BroadcastHashJoin" in plan, plan
    # threshold below the dim's 20 rows -> no hint -> sort-merge
    cat.broadcast_row_threshold = 10
    plan = _physical(eng.sql(q, "ops"))
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan, plan
    cat.broadcast_row_threshold = 100_000


def test_analyze_stats_drive_broadcast_for_nonmanifest_table(
    spark, tmp_path_factory, no_auto_broadcast
):
    """A plain-parquet (non-manifest) table has no footer-count manifest;
    the hint must come from ANALYZE stats — and without an ANALYZE the
    join stays sort-merge (no stats, no guess)."""
    lake = str(tmp_path_factory.mktemp("analyze_plain"))
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    dim = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(20)], "id long, grp string"
    )
    dim.write.parquet(f"{lake}/dim")  # plain directory, no manifest
    cat.register_table(
        TableDef("db", "dim", f"{lake}/dim", schema=dim.schema)
    )
    fact = spark.createDataFrame(
        [(i, i % 20, float(i)) for i in range(500)],
        "fid long, id long, amt double",
    )
    fact.write.parquet(f"{lake}/fact")
    cat.register_table(
        TableDef("db", "fact", f"{lake}/fact", schema=fact.schema)
    )
    eng = Engine(spark, cat)
    q = (
        "SELECT d.grp, sum(f.amt) AS total FROM db.fact f "
        "JOIN db.dim d ON f.id = d.id GROUP BY d.grp"
    )
    assert "SortMergeJoin" in _physical(eng.sql(q, "ops"))
    eng.sql("ANALYZE TABLE db.dim COMPUTE STATISTICS", "ops")
    assert "BroadcastHashJoin" in _physical(eng.sql(q, "ops"))


def test_analyze_histograms_and_skew_detection(env):
    """Round-16 (r15 What's missing #2): ANALYZE stores equi-height
    histogram bounds for numeric columns in the SAME single aggregate
    pass; histogram_skewed_values reads the planted hot key (>=1/16 of
    rows spans >=2 equal bounds) from stats alone — metadata-only CBO
    evidence."""
    cat, eng, lake = env
    from tf_aws_lakeformation_governed_datalake_demo_spark.engine import (
        HISTOGRAM_BINS,
    )

    # a heavily skewed key table: id=5 holds half the rows
    spark = eng.spark
    rows = [(i, 5 if i % 2 == 0 else i % 20, float(i)) for i in range(400)]
    df = spark.createDataFrame(rows, "fid long, id long, amt double")
    publish_overwrite(spark, f"{lake}/skewfact", df, None)
    cat.register_table(
        TableDef("db", "skewfact", f"{lake}/skewfact", schema=df.schema)
    )
    st = eng.analyze_table("db.skewfact", ["id", "amt"], principal="ops")
    hist = st["columns"]["id"]["histogram"]
    assert len(hist) == HISTOGRAM_BINS + 1
    assert hist == sorted(hist)  # quantile bounds are monotone
    # strings get no histogram; numeric non-skewed column does
    assert "histogram" in st["columns"]["amt"]
    sk = cat.histogram_skewed_values("db.skewfact", "id")
    assert sk and sk[0][0] == 5.0
    assert sk[0][1] >= 0.25  # est fraction: truly 0.5, bins give >=1/4
    # the uniform column carries no skew evidence
    assert cat.histogram_skewed_values("db.skewfact", "amt") == []
    # no ANALYZE -> no evidence (never guesses)
    assert cat.histogram_skewed_values("db.fact", "id") == []


def test_histogram_drives_salted_join_flip(env):
    """The CBO consumer: stats_salted_join flips to the salted
    strategy exactly when the histogram proves a hot key, and both
    strategies return identical rows (evidence changes the plan,
    never the result)."""
    cat, eng, lake = env
    from tf_aws_lakeformation_governed_datalake_demo_spark.operators.skew import (
        stats_salted_join,
    )

    spark = eng.spark
    rows = [(i, 5 if i % 2 == 0 else i % 20, float(i)) for i in range(400)]
    big = spark.createDataFrame(rows, "fid long, id long, amt double")
    publish_overwrite(spark, f"{lake}/bigf", big, None)
    cat.register_table(
        TableDef("db", "bigf", f"{lake}/bigf", schema=big.schema)
    )
    small = spark.createDataFrame(
        [(i, f"d{i}") for i in range(20)], "sid long, label string"
    )

    # before ANALYZE: no evidence -> plain join
    joined, sk = stats_salted_join(
        cat, "db.bigf", big, small, "id", "sid"
    )
    assert sk == []
    plain = {tuple(r) for r in joined.collect()}
    assert "__salt" not in joined.columns

    eng.analyze_table("db.bigf", ["id"], principal="ops")
    joined2, sk2 = stats_salted_join(
        cat, "db.bigf", big, small, "id", "sid"
    )
    assert sk2 and sk2[0][0] == 5.0  # evidence flipped the strategy
    assert {tuple(r) for r in joined2.collect()} == plain  # same rows
