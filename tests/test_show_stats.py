"""SHOW STATS (round-15; r14 What's missing #2): the governed READ
surface for what ANALYZE computes — Trino's ``SHOW STATS FOR`` / the
Athena console's table-stats panel, re-expressed for the engine's
catalog. Covers: grammar, metadata-only serving (manifest footer count
before any ANALYZE; never a scan), the full analyzed shape, and the
redaction rules — DESCRIBE's column rectangle for column-conditioned
principals, an outright deny for row-filtered ones (the ANALYZE
reasoning applied read-side), implicit deny for the ungranted, and
audit on the deny path.
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
    ShowStatsStatement,
    UnsupportedStatementError,
    parse_statement,
)


def test_parse_show_stats_forms():
    s = parse_statement("SHOW STATS db.t")
    assert isinstance(s, ShowStatsStatement) and s.target == "db.t"
    s = parse_statement("show stats for db.t")  # the Trino spelling
    assert s.target == "db.t"
    with pytest.raises(UnsupportedStatementError, match="SHOW STATS"):
        parse_statement("SHOW STATS")  # unqualified / missing target


@pytest.fixture()
def env(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("showstats"))
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
    return cat, Engine(spark, cat)


def test_show_stats_serves_metadata_before_any_analyze(env, monkeypatch):
    """No ANALYZE yet: the summary row serves the manifest footer
    count (stats_source='metadata'), zero column rows, and NO scan is
    even constructed."""
    cat, eng = env

    def _boom(*a, **k):
        raise AssertionError("SHOW STATS constructed a scan")

    monkeypatch.setattr(GovernedCatalog, "table", _boom)
    rows = eng.sql("SHOW STATS db.dim", "ops").collect()
    assert len(rows) == 1
    summary = rows[0]
    assert summary.column_name is None
    assert summary.row_count == 20
    assert summary.stats_source == "metadata"


def test_show_stats_full_shape_after_analyze(env):
    cat, eng = env
    eng.sql(
        "ANALYZE TABLE db.dim COMPUTE STATISTICS FOR ALL COLUMNS", "ops"
    )
    rows = eng.sql("SHOW STATS FOR db.dim", "ops").collect()
    by_col = {r.column_name: r for r in rows}
    assert set(by_col) == {"id", "grp", "v", None}
    assert by_col[None].row_count == 20
    assert by_col[None].stats_source == "analyze"
    assert by_col["v"].null_count == 1
    assert by_col["id"].min == "0" and by_col["id"].max == "19"
    assert by_col["grp"].stats_source == "analyze"
    assert by_col["id"].row_count is None  # summary-row field only


def test_show_stats_redacts_outside_the_column_rectangle(env):
    """A column-conditioned (but NOT row-filtered) principal sees only
    allowed columns' stats rows — a masked column's min/max does not
    exist for them (DESCRIBE's redaction rule applied to stats)."""
    cat, eng = env
    eng.analyze_table("db.dim", ["*"], principal="ops")
    cat.create_data_cells_filter(
        DataCellsFilter(
            name="cols_only",
            database="db",
            table="dim",
            columns=("id", "grp"),
            row_filter=None,
        )
    )
    cat.grant("colrect", "SELECT", "db", "dim", via_filter="cols_only")
    rows = eng.sql("SHOW STATS db.dim", "colrect").collect()
    names = {r.column_name for r in rows}
    assert "v" not in names, "masked column's stats must be redacted"
    assert {"id", "grp", None} == names


def test_show_stats_denies_row_filtered_and_ungranted(env):
    """Row-filtered principals are denied outright (table-wide stats
    leak past the row rectangle — the ANALYZE gate's reasoning applied
    to the read surface); ungranted principals get the implicit deny.
    Both denials are audited."""
    cat, eng = env
    eng.analyze_table("db.dim", ["*"], principal="ops")
    cat.create_data_cells_filter(
        DataCellsFilter(
            name="rowf",
            database="db",
            table="dim",
            columns=None,
            row_filter="grp = 'g0'",
        )
    )
    cat.grant("apac", "SELECT", "db", "dim", via_filter="rowf")
    with pytest.raises(PermissionDeniedError, match="row-filtered"):
        eng.sql("SHOW STATS db.dim", "apac")
    with pytest.raises(PermissionDeniedError):
        eng.sql("SHOW STATS db.dim", "nobody")
    # statement denials ride the central _execute trail: status FAILED
    # with the PermissionDeniedError verbatim (the DESCRIBE convention)
    denied = [
        e
        for e in cat.audit.events
        if "SHOW STATS" in e["query"]
        and "PermissionDenied" in (e.get("error") or "")
    ]
    assert len(denied) >= 2, "denied SHOW STATS must be audited"


def test_show_stats_unconditioned_select_reads_fine(env):
    """Plain unconditioned SELECT is enough to READ stats — the
    admin-or-ALL rule gates COMPUTING them (a mutation); reading what
    the catalog already serves every unconditioned reader is the
    console panel's contract."""
    cat, eng = env
    eng.analyze_table("db.dim", ["id"], principal="ops")
    cat.grant("reader", "SELECT", "db", "dim")
    rows = eng.sql("SHOW STATS db.dim", "reader").collect()
    assert {r.column_name for r in rows} == {"id", None}


def test_show_stats_serves_histograms_under_redaction(env):
    """Round-16: the histogram column rides the same rectangle as
    min/max — numeric analyzed columns show their equi-height bounds,
    strings show NULL, and the summary row stays histogram-free."""
    cat, eng = env
    eng.sql(
        "ANALYZE TABLE db.dim COMPUTE STATISTICS FOR ALL COLUMNS", "ops"
    )
    by_col = {
        r.column_name: r
        for r in eng.sql("SHOW STATS FOR db.dim", "ops").collect()
    }
    assert by_col["id"].histogram is not None
    bounds = [float(x) for x in by_col["id"].histogram.split("|")]
    assert len(bounds) == 17 and bounds == sorted(bounds)
    assert bounds[0] == 0.0 and bounds[-1] == 19.0
    assert by_col["grp"].histogram is None  # non-numeric: no histogram
    assert by_col[None].histogram is None
