"""Golden replay of the governed statement surface.

One script runs every statement class in ``statements.py``: first the
whole surface as an admin, then every gated verb as a principal that
holds only SELECT (plus the grant-aware listings as a principal with no
grant at all), then the admin's drops. For each statement the test pins

- every audit event it records, as ``(principal, query, tables,
  filters_applied, status, error)`` — no timestamp or event id, and the
  temporary lake root written as ``<LAKE>``;
- the outcome: the result's column names and types, or the exception
  class it raised.

The expected values live in ``statement_dispatch_golden.json``. A
coverage check fails when a statement class has no line in the script,
so a new verb cannot ship without a golden line.
"""

from __future__ import annotations

import dataclasses
import json
import os

import pytest

from tf_aws_lakeformation_governed_datalake_demo_spark import statements
from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
    GovernedCatalog,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.engine import Engine

GOLDEN = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "statement_dispatch_golden.json",
)
ADMIN, VIEWER, NOBODY = "ops", "viewer", "nobody"
MERGE = (
    "MERGE INTO db.t AS t USING (SELECT id, n + 1 AS n, note, grp "
    "FROM db.t WHERE id = 1) AS s ON t.id = s.id "
    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
)


def _script(lake: str) -> list[tuple[str, str]]:
    admin = [
        "CREATE DATABASE db COMMENT 'golden'",
        "CREATE EXTERNAL TABLE db.t (id bigint COMMENT 'pk', n int, "
        "note string) PARTITIONED BY (grp string) STORED AS PARQUET "
        f"LOCATION '{lake}/t'",
        "CREATE EXTERNAL TABLE IF NOT EXISTS db.t (id bigint) "
        f"LOCATION '{lake}/t'",
        "INSERT INTO db.t VALUES (1, 10, 'a', 'x'), (2, 20, 'b', 'x'), "
        "(3, 30, 'c', 'y'), (4, 40, 'd', 'y')",
        "INSERT INTO db.t (id, n, grp) VALUES (5, 50, 'y')",
        "INSERT OVERWRITE db.t PARTITION (grp = 'x') "
        "SELECT id, n, note FROM db.t WHERE grp = 'x'",
        "UPDATE db.t SET n = n + 1 WHERE grp = 'x'",
        "DELETE FROM db.t WHERE id = 5",
        MERGE,
        "CREATE MATERIALIZED VIEW db.mv AS SELECT grp, count(*) AS cnt, "
        "sum(n) AS total FROM db.t GROUP BY grp",
        "INSERT INTO db.t VALUES (6, 60, 'e', 'x')",
        "REFRESH MATERIALIZED VIEW db.mv",
        "OPTIMIZE db.t",
        "OPTIMIZE db.t WHERE grp = 'x'",
        "OPTIMIZE db.t CLUSTER BY (id)",
        "CREATE VIEW db.v AS SELECT id, grp FROM db.t",
        "CREATE OR REPLACE VIEW db.v AS SELECT id, n, grp FROM db.t",
        "CREATE TABLE db.k CLONE db.t "
        f"WITH (external_location = '{lake}/k')",
        f"ALTER TABLE db.k ADD FILES '{lake}/landing'",
        f"CREATE TABLE db.t2 LIKE db.t LOCATION '{lake}/t2'",
        f"CREATE TABLE IF NOT EXISTS db.t2 LIKE db.t LOCATION '{lake}/t2'",
        f"CREATE EXTERNAL TABLE db.ext (id bigint, n int, note string) "
        f"PARTITIONED BY (grp string) LOCATION '{lake}/ext'",
        "MSCK REPAIR TABLE db.ext",
        "CREATE TABLE db.c WITH (external_location = "
        f"'{lake}/c', format = 'PARQUET') AS SELECT id, n FROM db.t",
        f"UNLOAD (SELECT id FROM db.t) TO '{lake}/unload' "
        "WITH (format = 'PARQUET')",
        "ANALYZE TABLE db.t COMPUTE STATISTICS FOR ALL COLUMNS",
        "ANALYZE TABLE db.t COMPUTE STATISTICS FOR COLUMNS id, n",
        "ANALYZE TABLE db.k COMPUTE STATISTICS",
        "SHOW STATS FOR db.t",
        "VACUUM db.t RETAIN 2 SNAPSHOTS DRY RUN",
        "VACUUM db.t RETAIN 2 SNAPSHOTS",
        "ALTER TABLE db.k ALTER COLUMN n TYPE bigint",
        "ALTER TABLE db.k RENAME COLUMN note TO memo",
        "ALTER TABLE db.k ADD CONSTRAINT pos CHECK (id > 0)",
        "ALTER TABLE db.k DROP CONSTRAINT pos",
        "ALTER TABLE db.k DROP PARTITION (grp = 'y')",
        "ALTER TABLE db.k DROP IF EXISTS PARTITION (grp = 'zzz')",
        "ALTER TABLE db.k DROP COLUMN memo",
        "TRUNCATE TABLE db.k",
        "ALTER TABLE db.k ADD COLUMNS (extra int COMMENT 'later')",
        "SHOW DATABASES",
        "SHOW TABLES",
        "SHOW TABLES IN db",
        "SHOW VIEWS IN db",
        "SHOW PARTITIONS db.t",
        "SHOW GRANTS ON db.t",
        "SHOW CREATE TABLE db.t",
        "SHOW CREATE TABLE db.v",
        "SHOW COLUMNS IN db.t",
        "SHOW COLUMNS IN db.v",
        "DESCRIBE db.t",
        "DESCRIBE db.v",
        "DESCRIBE HISTORY db.t",
        "DESCRIBE DETAIL db.t",
        "DESCRIBE DETAIL db.ext",
        "DESCRIBE FILES db.t",
        "DESCRIBE FILES db.ext",
        "DESCRIBE DATABASE db",
        "EXPLAIN SELECT id FROM db.t WHERE grp = 'x'",
        "EXPLAIN ANALYZE SELECT count(*) AS n FROM db.t",
        "PREPARE q FROM SELECT id FROM db.t WHERE grp = ?",
        "EXECUTE q USING 'x'",
        "GRANT SELECT ON db.t TO viewer",
        "GRANT SELECT ON db.t TO viewer",
        "GRANT SELECT ON db.k TO viewer",
        "GRANT SELECT ON db.t2 TO viewer",
        "GRANT SELECT ON db.ext TO viewer",
        "GRANT SELECT ON db.mv TO viewer",
        "GRANT SELECT ON db.v TO viewer",
        "GRANT ALL ON db.c TO viewer",
        "REVOKE ALL ON db.c FROM viewer",
    ]
    viewer = [
        "CREATE DATABASE db2",
        f"CREATE EXTERNAL TABLE db.x (id bigint) LOCATION '{lake}/x'",
        f"CREATE TABLE db.y LIKE db.t LOCATION '{lake}/y'",
        "DROP TABLE db.t2",
        "GRANT SELECT ON db.t TO viewer",
        "REVOKE SELECT ON db.t FROM viewer",
        f"CREATE TABLE db.k2 CLONE db.t WITH (external_location = "
        f"'{lake}/k2')",
        "ANALYZE TABLE db.t COMPUTE STATISTICS",
        "ALTER TABLE db.t ADD COLUMNS (z int)",
        "ALTER TABLE db.k RENAME COLUMN id TO ident",
        "ALTER TABLE db.k DROP COLUMN n",
        "MSCK REPAIR TABLE db.ext",
        "TRUNCATE TABLE db.t",
        "ALTER TABLE db.t ADD CONSTRAINT c CHECK (id > 0)",
        "ALTER TABLE db.t DROP CONSTRAINT c",
        "ALTER TABLE db.t DROP PARTITION (grp = 'x')",
        f"ALTER TABLE db.t ADD FILES '{lake}/landing'",
        "ALTER TABLE db.t ALTER COLUMN n TYPE bigint",
        MERGE,
        "DELETE FROM db.t WHERE id = 1",
        "UPDATE db.t SET n = 0 WHERE id = 1",
        "INSERT INTO db.t VALUES (7, 70, 'f', 'x')",
        "OPTIMIZE db.t",
        "VACUUM db.t RETAIN 1 SNAPSHOTS",
        "CREATE MATERIALIZED VIEW db.mv2 AS SELECT grp, count(*) AS cnt "
        "FROM db.t GROUP BY grp",
        "REFRESH MATERIALIZED VIEW db.mv",
        "DROP MATERIALIZED VIEW db.mv",
        "CREATE OR REPLACE VIEW db.v AS SELECT id FROM db.t",
        "DROP VIEW db.v",
        "SHOW GRANTS FOR ops ON db.t",
        "SHOW GRANTS ON db.t",
        "SHOW STATS FOR db.t",
        "SHOW DATABASES",
        "SHOW TABLES",
        "SHOW VIEWS",
        "DESCRIBE DATABASE db",
        "DESCRIBE db.t",
        "CREATE TABLE db.vc WITH (external_location = "
        f"'{lake}/vc') AS SELECT id FROM db.t",
    ]
    nobody = [
        "SHOW DATABASES",
        "SHOW TABLES IN db",
        "SHOW VIEWS IN db",
        "DESCRIBE DATABASE db",
    ]
    cleanup = [
        "DROP MATERIALIZED VIEW db.mv",
        "DROP VIEW db.v",
        "DROP VIEW IF EXISTS db.gone",
        "DROP TABLE db.t2",
        "DROP TABLE IF EXISTS db.gone",
    ]
    return (
        [(ADMIN, s) for s in admin]
        + [(VIEWER, s) for s in viewer]
        + [(NOBODY, s) for s in nobody]
        + [(ADMIN, s) for s in cleanup]
    )


def _land(spark, lake: str) -> None:
    """Hive-layout parquet for ADD FILES (``landing``) and for the
    declared, never-written MSCK location (``ext``)."""
    df = spark.createDataFrame(
        [(10, 100, "l", "x"), (11, 110, "m", "z")],
        "id long, n int, note string, grp string",
    )
    for d in ("landing", "ext"):
        df.write.partitionBy("grp").parquet(f"{lake}/{d}")


def replay(spark, lake: str) -> tuple[list[dict], set]:
    """Run the script; return one record per statement and the set of
    statement classes it exercised."""
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.set_admins([ADMIN])
    eng = Engine(spark, cat)
    _land(spark, lake)

    def scrub(v):
        return v.replace(lake, "<LAKE>") if isinstance(v, str) else v

    out, seen = [], set()
    for principal, sql in _script(lake):
        seen.add(type(statements.parse_statement(sql)))
        n0 = len(cat.audit.events)
        try:
            df = eng.sql(sql, principal)
            outcome = [
                "ok",
                [[f.name, f.dataType.simpleString()] for f in df.schema],
            ]
        except Exception as exc:  # noqa: BLE001 - the class is pinned
            outcome = ["raises", type(exc).__name__]
        events = [
            [
                e["principal"],
                scrub(e["query"]),
                [scrub(t) for t in e["tables"]],
                list(e["filters_applied"]),
                e["status"],
                scrub(e["error"]),
            ]
            for e in cat.audit.events[n0:]
        ]
        out.append(
            {
                "principal": principal,
                "sql": scrub(sql),
                "outcome": outcome,
                "events": events,
            }
        )
    return out, seen


def _statement_classes() -> set:
    return {
        obj
        for name, obj in vars(statements).items()
        if name.endswith("Statement")
        and isinstance(obj, type)
        and dataclasses.is_dataclass(obj)
    }


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    return replay(spark, str(tmp_path_factory.mktemp("dispatch_lake")))


def test_script_covers_every_statement_class(replayed):
    _, seen = replayed
    classes = _statement_classes()
    assert len(classes) >= 47
    missing = sorted(c.__name__ for c in classes - seen)
    assert not missing, f"statement classes with no golden line: {missing}"


def test_audit_events_and_result_schemas_match_golden(replayed):
    got, _ = replayed
    with open(GOLDEN, encoding="utf-8") as f:
        want = json.load(f)
    assert [(r["principal"], r["sql"]) for r in got] == [
        (r["principal"], r["sql"]) for r in want
    ]
    for g, w in zip(got, want):
        assert g == w, f"{g['principal']}: {g['sql']}"


# ------------------------------------------------ failures after the gate
# A call that passes the gate and then raises records one ``failed``
# action line carrying the exception, then re-raises.
@pytest.fixture()
def small(spark, tmp_path):
    lake = str(tmp_path)
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.set_admins([ADMIN])
    eng = Engine(spark, cat)
    eng.sql("CREATE DATABASE db", ADMIN)
    eng.sql(
        "CREATE EXTERNAL TABLE db.t (id bigint, n int) "
        f"LOCATION '{lake}/t'",
        ADMIN,
    )
    eng.sql("INSERT INTO db.t VALUES (1, 10), (2, 20)", ADMIN)
    return eng, lake


def _last_action(eng, prefix):
    lines = [
        e for e in eng.catalog.audit.events if e["query"].startswith(prefix)
    ]
    assert lines, f"no audit line starting {prefix!r}"
    return lines[-1]


def _assert_failed(line, exc_info, query):
    assert line["query"] == query
    assert line["status"] == "failed"
    assert line["error"] == (
        f"{exc_info.type.__name__}: {exc_info.value}"
    )


def test_maintain_failure_after_gate_is_audited(small):
    eng, _ = small
    with pytest.raises(FileNotFoundError) as exc_info:
        eng.maintain("db.t", "rollback", ADMIN, to_version=999)
    line = _last_action(eng, "MAINTAIN rollback")
    _assert_failed(line, exc_info, "MAINTAIN rollback db.t TO VERSION 999")


def test_maintain_lake_conflict_is_audited(small, monkeypatch):
    """The action resolves the lake function when it runs, so a
    replaced module attribute (a tracer, this test) is what runs."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake

    def conflict(*_a, **_k):
        raise lake.ConcurrentLakeModificationError("a concurrent commit won")

    monkeypatch.setattr(lake, "delete_rows", conflict)
    with pytest.raises(lake.ConcurrentLakeModificationError) as exc_info:
        eng, _ = small
        eng.sql("DELETE FROM db.t WHERE id = 1", ADMIN)
    line = _last_action(eng, "MAINTAIN delete_rows")
    _assert_failed(
        line, exc_info, "MAINTAIN delete_rows db.t WHERE id = 1"
    )


def test_clone_failure_after_gate_is_audited(small):
    eng, lake = small
    with pytest.raises(FileNotFoundError) as exc_info:
        eng.clone_table("db.t", "db.k", f"{lake}/k", version=999, principal=ADMIN)
    line = _last_action(eng, "CLONE TABLE")
    _assert_failed(line, exc_info, "CLONE TABLE db.k FROM db.t VERSION AS OF 999")
    assert "db.k" not in eng.catalog.tables


def test_analyze_failure_after_gate_is_audited(small, monkeypatch):
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake

    def unreadable(*_a, **_k):
        raise OSError("manifest unreadable")

    monkeypatch.setattr(lake, "read_manifest", unreadable)
    eng, _ = small
    with pytest.raises(OSError) as exc_info:
        eng.analyze_table("db.t", principal=ADMIN)
    line = _last_action(eng, "ANALYZE TABLE")
    _assert_failed(line, exc_info, "ANALYZE TABLE db.t")
    assert eng.catalog.tables["db.t"].stats is None


def test_denied_call_records_only_the_denial(small):
    eng, _ = small
    eng.sql("GRANT SELECT ON db.t TO viewer", ADMIN)
    n0 = len(eng.catalog.audit.events)
    with pytest.raises(PermissionError):
        eng.maintain("db.t", "rollback", VIEWER, to_version=1)
    assert [e["status"] for e in eng.catalog.audit.events[n0:]] == ["denied"]
