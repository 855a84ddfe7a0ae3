"""INSERT OVERWRITE / overwrite_partitions (round 12) — dynamic-
partition overwrite as one atomic manifest commit.

The 100 TB claim is the carry set: only the partitions PRESENT in the
batch are replaced; every other partition's files are carried BY NAME
(asserted on file identity, not just content), so a daily reprocess
commits O(batch) regardless of table size.
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
    delete_rows_mor,
    overwrite_partitions,
    publish_overwrite,
    read_manifest,
    read_table,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.statements import (
    parse_statement,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, grp string, v long")


@pytest.fixture()
def table(spark, tmp_path):
    loc = str(tmp_path / "t")
    publish_overwrite(
        spark,
        loc,
        _df(spark, [(i, "abc"[i % 3], i * 10) for i in range(30)]),
        ["grp"],
    )
    return loc


def test_overwrite_replaces_only_present_partitions(spark, table):
    before = read_manifest(table)
    kept_before = {f for f in before["files"] if f.startswith("grp=b/")} | {
        f for f in before["files"] if f.startswith("grp=c/")
    }
    out = overwrite_partitions(
        spark, table, _df(spark, [(1000, "a", 1), (1001, "a", 2)]), ["grp"]
    )
    assert out["partitions_replaced"] == ["grp=a"]
    assert out["files_replaced"] >= 1
    after = read_manifest(table)
    # untouched partitions carried BY NAME — identical file entries
    assert kept_before <= set(after["files"])
    assert not any(
        f in set(after["files"])
        for f in before["files"]
        if f.startswith("grp=a/")
    )
    got = {(r.id, r.grp) for r in read_table(spark, table).collect()}
    assert {(1000, "a"), (1001, "a")} <= got
    assert not any(g == "a" and i < 1000 for i, g in got)
    assert sum(1 for _, g in got if g == "b") == 10


def test_overwrite_keeps_tombstones_on_carried_files(spark, table):
    delete_rows_mor(spark, table, "id = 1")  # id=1 is grp=b
    overwrite_partitions(spark, table, _df(spark, [(1000, "a", 1)]), ["grp"])
    assert read_table(spark, table).where("id = 1").count() == 0
    # time travel still shows the pre-overwrite snapshot
    assert read_table(spark, table, version=1).count() == 30


def test_overwrite_refusals(spark, table, tmp_path):
    with pytest.raises(ValueError, match="empty batch"):
        overwrite_partitions(
            spark, table, _df(spark, []).limit(0), ["grp"]
        )
    with pytest.raises(ValueError, match="does not match"):
        overwrite_partitions(spark, table, _df(spark, [(1, "a", 1)]), ["id"])
    # a plain directory is adopted, not refused: its grp=b rows carry
    plain = str(tmp_path / "plain")
    _df(spark, [(1, "a", 1), (2, "b", 2)]).write.partitionBy("grp").parquet(
        plain
    )
    overwrite_partitions(spark, plain, _df(spark, [(3, "a", 3)]), ["grp"])
    assert sorted(r.id for r in read_table(spark, plain).collect()) == [2, 3]
    # schema drift fails fast
    bad = spark.createDataFrame([(1, "a")], "id long, grp string")
    with pytest.raises(ValueError, match="schema"):
        overwrite_partitions(spark, table, bad, ["grp"])


def test_overwrite_refuses_partition_evolved_tables(spark, table):
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
        evolve_partitioning,
    )

    evolve_partitioning(table, ["v"])
    append_rows(spark, table, _df(spark, [(2000, "a", 777)]), ["v"])
    with pytest.raises(ValueError, match="retired partition spec"):
        overwrite_partitions(
            spark, table, _df(spark, [(1, "a", 1)]), ["v"]
        )


# ------------------------------------------------------------ SQL layer
def test_parse_insert_overwrite():
    s = parse_statement("INSERT OVERWRITE TABLE db.t SELECT * FROM db.s")
    assert s.overwrite and s.columns == ()
    s = parse_statement("INSERT INTO db.t SELECT * FROM db.s")
    assert not s.overwrite


@pytest.fixture()
def env(spark, table, tmp_path):
    cat = GovernedCatalog(spark, lake_root=str(tmp_path))
    cat.create_database("db")
    cat.set_admins(["ops"])
    cat.register_table(
        TableDef(
            "db", "t", table,
            schema=read_table(spark, table).schema,
            partition_keys=("grp",),
        )
    )
    return cat, Engine(spark, cat)


def test_sql_insert_overwrite_end_to_end(env):
    cat, eng = env
    out = eng.sql(
        "INSERT OVERWRITE db.t "
        "SELECT id + 1000 AS id, grp, v + 1 AS v FROM db.t "
        "WHERE grp = 'a'",
        "ops",
    ).first()
    assert out.partitions_replaced == 1
    assert out.rows_inserted == 10
    rows = eng.sql(
        "SELECT grp, count(*) AS n, min(id) AS lo FROM db.t GROUP BY grp "
        "ORDER BY grp",
        "ops",
    ).collect()
    assert [(r.grp, r.n) for r in rows] == [("a", 10), ("b", 10), ("c", 10)]
    assert rows[0].lo >= 1000  # grp=a fully replaced
    assert rows[1].lo < 1000  # grp=b untouched


def test_sql_insert_overwrite_denied_for_conditioned_principal(env):
    cat, eng = env
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        DataCellsFilter,
    )

    cat.create_data_cells_filter(
        DataCellsFilter(
            name="f", database="db", table="t",
            columns=None, row_filter="grp = 'a'",
        )
    )
    cat.grant("analyst", "SELECT", "db", "t", via_filter="f")
    with pytest.raises(PermissionDeniedError):
        eng.sql(
            "INSERT OVERWRITE db.t SELECT * FROM db.t WHERE grp = 'a'",
            "analyst",
        )


def test_overwrite_composes_with_mv_refresh(spark, table, tmp_path):
    """Cross-feature pin: an MV refreshed from the change feed must stay
    exactly equal to a full recompute across an INSERT OVERWRITE of its
    source — the file-set feed emits the replaced partition's old rows
    as deletes and the new rows as inserts, and the additive state
    subtracts/adds them."""
    cat = GovernedCatalog(spark, lake_root=str(tmp_path))
    cat.create_database("db")
    cat.set_admins(["ops"])
    cat.register_table(
        TableDef(
            "db", "t", table,
            schema=read_table(spark, table).schema,
            partition_keys=("grp",),
        )
    )
    eng = Engine(spark, cat)
    eng.create_materialized_view(
        "db.mv", "db.t", ["grp"],
        {"n": ("count", None), "total": ("sum", "v")},
        principal="ops",
    )
    eng.sql(
        "INSERT OVERWRITE db.t "
        "SELECT id + 1000 AS id, grp, v * 2 AS v FROM db.t "
        "WHERE grp = 'b'",
        "ops",
    )
    out = eng.refresh_materialized_view("db.mv", principal="ops")
    assert out["refreshed"]
    mv = {
        (r.grp, r.n, r.total)
        for r in eng.sql("SELECT grp, n, total FROM db.mv", "ops").collect()
    }
    full = {
        (r.grp, r.n, r.total)
        for r in eng.sql(
            "SELECT grp, count(*) AS n, sum(v) AS total FROM db.t "
            "GROUP BY grp",
            "ops",
        ).collect()
    }
    assert mv == full, (mv, full)


def test_overwrite_replay_ledger(spark, table):
    out = overwrite_partitions(
        spark, table, _df(spark, [(1000, "a", 1)]), ["grp"],
        stream_id="s", batch_id=0,
    )
    assert out is not None
    # replay at the high-water mark: no-op, even with DIFFERENT content
    # (content-idempotence alone would roll the partition back)
    assert (
        overwrite_partitions(
            spark, table, _df(spark, [(1, "a", 10)]), ["grp"],
            stream_id="s", batch_id=0,
        )
        is None
    )
    got = {(r.id, r.v) for r in read_table(spark, table).where("grp='a'").collect()}
    assert got == {(1000, 1)}
    # next epoch commits; half-given ledger args refuse
    assert (
        overwrite_partitions(
            spark, table, _df(spark, [(2000, "a", 2)]), ["grp"],
            stream_id="s", batch_id=1,
        )
        is not None
    )
    with pytest.raises(ValueError, match="together"):
        overwrite_partitions(
            spark, table, _df(spark, [(1, "a", 1)]), ["grp"], stream_id="s"
        )


# ---------------------------------------- OPTIMIZE WHERE / VACUUM DRY RUN
def test_optimize_where_scopes_to_matching_partitions(spark, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
        optimize_binpack,
    )

    loc = str(tmp_path / "t")
    publish_overwrite(
        spark,
        loc,
        _df(spark, [(i, "abc"[i % 3], i) for i in range(30)]),
        ["grp"],
    )
    for i in range(3):  # small-file tail in every partition
        append_rows(
            spark, loc,
            _df(spark, [(100 + i, "a", i), (200 + i, "b", i)]), ["grp"],
        )
    before = read_manifest(loc)
    n_b_before = sum(1 for f in before["files"] if f.startswith("grp=b/"))
    out = optimize_binpack(
        spark, loc, target_rows=100, partition_where="grp = 'a'"
    )
    assert out["files_rewritten"] > 0
    after = read_manifest(loc)
    # grp=b's small tail untouched — same file entries
    assert sum(1 for f in after["files"] if f.startswith("grp=b/")) == (
        n_b_before
    )
    assert {f for f in after["files"] if f.startswith("grp=b/")} == {
        f for f in before["files"] if f.startswith("grp=b/")
    }
    # content unchanged
    assert read_table(spark, loc).count() == 36
    # predicate on a non-partition column fails loudly
    with pytest.raises(Exception, match="id|resolve|UNRESOLVED"):
        optimize_binpack(
            spark, loc, target_rows=100, partition_where="id = 1"
        )


def test_vacuum_dry_run_reports_without_removing(spark, table, tmp_path):
    import os

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        vacuum_manifests,
    )

    overwrite_partitions(spark, table, _df(spark, [(1000, "a", 1)]), ["grp"])
    overwrite_partitions(spark, table, _df(spark, [(2000, "b", 2)]), ["grp"])
    n_files_before = sum(len(fs) for _, _, fs in os.walk(table))
    dry = vacuum_manifests(table, keep_last=1, dry_run=True)
    assert dry["dry_run"] and dry["files_removed"] > 0
    assert dry["manifests_removed"] > 0
    # nothing actually removed; time travel still works
    assert sum(len(fs) for _, _, fs in os.walk(table)) == n_files_before
    assert read_table(spark, table, version=1).count() == 30
    # the real run removes exactly what the dry run reported
    real = vacuum_manifests(table, keep_last=1)
    assert real["files_removed"] == dry["files_removed"]
    assert real["manifests_removed"] == dry["manifests_removed"]


def test_sql_optimize_where_and_vacuum_dry_run(env):
    cat, eng = env
    out = eng.sql(
        "VACUUM db.t RETAIN 2 SNAPSHOTS DRY RUN", "ops"
    ).first()
    assert out.dry_run is True and out.artifacts_removed == 0
    out = eng.sql("OPTIMIZE db.t WHERE grp = 'a'", "ops").first()
    assert out.files_before >= out.files_after
    q = [e["query"] for e in cat.audit.events]
    assert any("MAINTAIN expire_snapshots db.t DRY RUN" in x for x in q)
    assert any(
        "MAINTAIN optimize_binpack db.t WHERE grp = 'a'" in x for x in q
    )


def test_static_partition_overwrite_sql(spark, tmp_path):
    """Round-13 static form: PARTITION (grp='a') replaces exactly the
    named partition (others carried by file name), the select supplies
    the non-partition columns, and malformed specs refuse."""
    import pytest as _pytest

    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.engine import Engine
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
        read_manifest,
    )

    lake = str(tmp_path)
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    df = spark.createDataFrame(
        [(i, "abc"[i % 3], i * 10) for i in range(30)],
        "id long, grp string, v long",
    )
    loc = f"{lake}/t"
    publish_overwrite(spark, loc, df, ["grp"])
    cat.register_table(
        TableDef("db", "t", loc, schema=df.schema, partition_keys=("grp",))
    )
    eng = Engine(spark, cat)
    keep = {
        f for f in read_manifest(loc)["files"] if "grp=a" not in f
    }
    r = eng.sql(
        "INSERT OVERWRITE db.t PARTITION (grp = 'a') "
        "SELECT id, v * 100 AS v FROM db.t WHERE grp = 'a'",
        "ops",
    ).first()
    assert r.partitions_replaced == 1
    after = read_manifest(loc)
    assert keep <= set(after["files"])  # untouched partitions by name
    rows = eng.sql(
        "SELECT grp, sum(v) AS s, count(*) AS n FROM db.t "
        "GROUP BY grp ORDER BY grp",
        "ops",
    ).collect()
    assert [(x.grp, x.n) for x in rows] == [("a", 10), ("b", 10), ("c", 10)]
    assert rows[0].s == sum(i * 10 * 100 for i in range(30) if i % 3 == 0)
    assert rows[1].s == sum(i * 10 for i in range(30) if i % 3 == 1)
    # refusals: non-partition column, duplicate, partial spec on a
    # 2-key table, NULL literal, non-literal value
    for bad, exc in (
        ("INSERT OVERWRITE db.t PARTITION (nope = 'x') "
         "SELECT id, v FROM db.t", ValueError),
        ("INSERT OVERWRITE db.t PARTITION (grp = 'a', grp = 'b') "
         "SELECT id FROM db.t", Exception),
        ("INSERT OVERWRITE db.t PARTITION (grp = NULL) "
         "SELECT id, v FROM db.t", Exception),
        ("INSERT OVERWRITE db.t PARTITION (grp = upper('a')) "
         "SELECT id, v FROM db.t", Exception),
    ):
        with _pytest.raises(Exception):
            eng.sql(bad, "ops")
    # the select's width must match the non-partition columns
    with _pytest.raises(ValueError, match="positionally"):
        eng.sql(
            "INSERT OVERWRITE db.t PARTITION (grp = 'a') "
            "SELECT id, grp, v FROM db.t WHERE grp = 'a'",
            "ops",
        )


def test_static_partition_overwrite_empty_batch_truncates(spark, tmp_path):
    """Hive static-overwrite semantics (round-13 review fix): an empty
    SELECT truncates the NAMED partition instead of refusing — the
    spec, not the data, is the replacement set. The dynamic form still
    refuses empty batches."""
    import pytest as _pytest

    from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.engine import Engine
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        publish_overwrite,
        read_manifest,
    )

    lake = str(tmp_path)
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i) for i in range(10)],
        "id long, grp string, v long",
    )
    loc = f"{lake}/t"
    publish_overwrite(spark, loc, df, ["grp"])
    cat.register_table(
        TableDef("db", "t", loc, schema=df.schema, partition_keys=("grp",))
    )
    eng = Engine(spark, cat)
    keep = {f for f in read_manifest(loc)["files"] if "grp=b" in f}
    r = eng.sql(
        "INSERT OVERWRITE db.t PARTITION (grp = 'a') "
        "SELECT id, v FROM db.t WHERE false",
        "ops",
    ).first()
    assert r.rows_inserted == 0 and r.partitions_replaced == 1
    after = read_manifest(loc)
    assert keep <= set(after["files"])
    rows = eng.sql(
        "SELECT grp, count(*) AS n FROM db.t GROUP BY grp", "ops"
    ).collect()
    assert [(x.grp, x.n) for x in rows] == [("b", 5)]
    # dynamic form still refuses the empty batch
    with _pytest.raises(ValueError, match="empty batch"):
        eng.sql(
            "INSERT OVERWRITE db.t SELECT id, grp, v FROM db.t "
            "WHERE false",
            "ops",
        )
    # through SQL the full-static spec constant-fills the partition
    # column, so containment holds by construction; the lake-level
    # guard still refuses API callers whose batch strays outside the
    # named set (blast radius)
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        overwrite_partitions,
    )

    stray = spark.createDataFrame(
        [(99, "b", 1)], "id long, grp string, v long"
    )
    with _pytest.raises(ValueError, match="blast-radius"):
        overwrite_partitions(
            spark, loc, stray, ["grp"], replace_partitions=["grp=a"]
        )
