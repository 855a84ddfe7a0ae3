"""Workgroup bytes-scanned enforcement (round-15): Athena's
``bytes_scanned_cutoff_per_query`` under
``enforce_workgroup_configuration = true`` (main.tf:501), enforced at
PLAN time over the governed scan's planned input files. Covers: the
bill reflects partition pruning (a predicate lowers it), metadata-
served answers bill ~0 and run under any cap, the cancel surface
(CANCELLED state + audit + metric, never FAILED), statements are
exempt, and no cap means no per-query stat walk.
"""

from __future__ import annotations

import pytest

from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
    GovernedCatalog,
    TableDef,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.engine import (
    Engine,
    QueryCapExceededError,
    QueryState,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    publish_overwrite,
)


@pytest.fixture()
def env(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("scancap"))
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    df = spark.createDataFrame(
        [(i, f"g{i % 4}", "x" * 200) for i in range(400)],
        "id long, grp string, pad string",
    )
    publish_overwrite(spark, f"{lake}/t", df, ["grp"])
    cat.register_table(
        TableDef(
            "db", "t", f"{lake}/t", schema=df.schema, partition_keys=("grp",)
        )
    )
    return cat, Engine(spark, cat)


def test_cap_cancels_and_pruning_lowers_the_bill(env):
    cat, eng = env
    # measure the full-scan bill with a generous cap
    eng.bytes_scanned_cutoff_per_query = 1 << 40
    qid = eng.submit("SELECT id, pad FROM db.t", "ops")
    full = eng.executions[qid].bytes_scanned
    assert full and full > 0
    # one partition's worth: the bill must drop (pruning reaches the
    # plan before enforcement — exactly Athena's metering incentive)
    qid = eng.submit("SELECT id, pad FROM db.t WHERE grp = 'g0'", "ops")
    pruned = eng.executions[qid].bytes_scanned
    assert pruned and 0 < pruned < full
    # a cap between the two: the pruned query runs, the full scan is
    # CANCELLED (Athena's state, not FAILED), audited and counted
    eng.bytes_scanned_cutoff_per_query = pruned
    assert eng.sql("SELECT id, pad FROM db.t WHERE grp = 'g0'", "ops")
    before = eng.metrics["queries_cancelled"]
    with pytest.raises(QueryCapExceededError, match="cutoff"):
        eng.sql("SELECT id, pad FROM db.t", "ops")
    assert eng.metrics["queries_cancelled"] == before + 1
    qe = [e for e in eng.executions.values() if e.state == QueryState.CANCELLED]
    assert qe and qe[-1].bytes_scanned == full
    cancelled = [
        e for e in cat.audit.events if e["status"] == "CANCELLED"
    ]
    assert cancelled, "workgroup cancel must be audited"


def test_metadata_served_answers_bill_zero(env):
    """The zero-file COUNT serves from manifest footer counts — no
    input files planned, so it runs under ANY cap (Athena charges
    nothing for metadata-only answers)."""
    cat, eng = env
    eng.bytes_scanned_cutoff_per_query = 1  # one byte
    out = eng.sql("SELECT count(*) FROM db.t", "ops")
    assert out.first()[0] == 400
    qe = list(eng.executions.values())[-1]
    assert qe.bytes_scanned == 0


def test_statements_are_exempt_and_no_cap_means_no_walk(env):
    cat, eng = env
    eng.bytes_scanned_cutoff_per_query = 1
    # DDL/maintenance statements never hit the scan cap (Athena DDL
    # carries no data-scanned charge)
    assert eng.sql("DESCRIBE db.t", "ops").collect()
    assert eng.sql("SHOW PARTITIONS db.t", "ops").collect()
    # no cap: bytes_scanned stays unrecorded (no stat walk on the
    # hot path)
    eng.bytes_scanned_cutoff_per_query = None
    eng.sql("SELECT id FROM db.t WHERE grp = 'g1'", "ops")
    assert list(eng.executions.values())[-1].bytes_scanned is None


def test_dml_source_reads_bill_against_the_cap(env):
    """Round-16 (r15 ADVICE): INSERT...SELECT and MERGE source reads
    are DML — Athena bills them (only DDL is free). A cap below the
    source-scan size cancels the statement BEFORE any write; VALUES
    inserts (no governed scan) still run."""
    cat, eng = env
    # measure the source read's bill
    eng.bytes_scanned_cutoff_per_query = 1 << 40
    eng.submit("SELECT id, pad FROM db.t WHERE grp = 'g0'", "ops")
    pruned = list(eng.executions.values())[-1].bytes_scanned
    assert pruned and pruned > 0

    eng.bytes_scanned_cutoff_per_query = pruned // 2
    before_rows = eng.sql("SELECT count(*) FROM db.t", "ops").first()[0]
    with pytest.raises(QueryCapExceededError, match="cutoff"):
        eng.sql(
            "INSERT INTO db.t SELECT id + 10000, grp, pad FROM db.t "
            "WHERE grp = 'g0'",
            "ops",
        )
    # cancelled before any write landed
    assert (
        eng.sql("SELECT count(*) FROM db.t", "ops").first()[0]
        == before_rows
    )
    with pytest.raises(QueryCapExceededError, match="cutoff"):
        eng.sql(
            "MERGE INTO db.t AS t USING (SELECT id, grp, pad FROM db.t "
            "WHERE grp = 'g0') AS s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
            "ops",
        )
    # a VALUES insert reads nothing governed: runs under the low cap
    out = eng.sql(
        "INSERT INTO db.t (id, grp, pad) VALUES (99999, 'g0', 'v')",
        "ops",
    )
    assert out is not None
    assert (
        eng.sql("SELECT count(*) FROM db.t", "ops").first()[0]
        == before_rows + 1
    )
