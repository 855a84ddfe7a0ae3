"""Manifest-pointer commits (round-7 VERDICT #1): per-TABLE atomic
publication + time travel on plain Parquet.

Readers list files through one atomically-replaced ``_manifest.json``,
so a scan concurrent with a publish sees exactly one committed snapshot
— never partition A new and partition B old; old snapshots stay readable until
vacuum_manifests expires them (the reference's S3 bucket-versioning +
consistent-listing analog, main.tf:25-30)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake as lk
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    delete_rows,
    merge_into,
    publish_overwrite,
    read_manifest,
    read_table,
    vacuum_manifests,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, grp string, v string")


def test_manifest_publish_read_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    v1 = _mk(spark, [(1, "a", "a1"), (2, "b", "b1")])
    publish_overwrite(spark, path, v1, ["grp"])
    assert read_manifest(path)["version"] == 1
    got = {(r.id, r.grp, r.v) for r in read_table(spark, path).collect()}
    assert got == {(1, "a", "a1"), (2, "b", "b1")}
    # second publish replaces only partition b (auto-detected manifest)
    publish_overwrite(spark, path, _mk(spark, [(2, "b", "b2")]), ["grp"])
    cur = {(r.id, r.v) for r in read_table(spark, path).collect()}
    assert cur == {(1, "a1"), (2, "b2")}
    # time travel to v1: the pre-publish state, partition column intact
    old = read_table(spark, path, version=1)
    assert {(r.id, r.grp, r.v) for r in old.collect()} == {
        (1, "a", "a1"),
        (2, "b", "b1"),
    }
    m = read_manifest(path)
    assert m["version"] == 2 and m["parent"] == 1


def test_reader_snapshot_isolation_across_publish(spark, tmp_path):
    """The mixed-partition window, closed: a scan PLANNED before a
    publish returns the old snapshot in full even when collected after
    the publish commits — its file list is fixed and committed files
    are never deleted by a publish."""
    path = str(tmp_path / "t")
    publish_overwrite(
        spark,
        path,
        _mk(spark, [(1, "a", "a1"), (2, "b", "b1")]),
        ["grp"],
    )
    mid_scan = read_table(spark, path)  # planned against snapshot v1
    publish_overwrite(
        spark, path, _mk(spark, [(1, "a", "a2"), (2, "b", "b2")]), ["grp"]
    )
    # entirely old — never a=old/b=new
    assert {(r.id, r.v) for r in mid_scan.collect()} == {(1, "a1"), (2, "b1")}
    assert {(r.id, r.v) for r in read_table(spark, path).collect()} == {
        (1, "a2"),
        (2, "b2"),
    }


def test_crash_before_and_after_pointer_replace(spark, tmp_path, monkeypatch):
    """Crash injection at the commit point. Before the pointer replace:
    moved files are invisible to manifest readers, the table reads
    entirely old, and a re-run converges. The pointer replace itself is
    one os.replace — there is no 'during'."""
    import os as _os

    path = str(tmp_path / "t")
    publish_overwrite(
        spark, path, _mk(spark, [(1, "a", "a1")]), ["grp"]
    )

    real_replace = _os.replace

    def crashing_replace(src, dst):
        if str(dst).endswith("_manifest.json"):
            raise RuntimeError("injected crash before pointer replace")
        return real_replace(src, dst)

    monkeypatch.setattr(_os, "replace", crashing_replace)
    with pytest.raises(RuntimeError, match="injected"):
        publish_overwrite(spark, path, _mk(spark, [(1, "a", "a2")]), ["grp"])
    monkeypatch.undo()
    # pointer still v1; reader sees the old snapshot only
    assert read_manifest(path)["version"] == 1
    assert {(r.id, r.v) for r in read_table(spark, path).collect()} == {
        (1, "a1")
    }
    # re-run converges; the orphan snapshot file is skipped past
    publish_overwrite(spark, path, _mk(spark, [(1, "a", "a2")]), ["grp"])
    m = read_manifest(path)
    assert m["parent"] == 1 and m["version"] >= 3
    assert {(r.id, r.v) for r in read_table(spark, path).collect()} == {
        (1, "a2")
    }


def test_merge_and_delete_on_manifest_table(spark, tmp_path):
    """The lake mutators auto-detect manifest tables: merge keeps
    history readable; delete_rows truncates it (erasure dominates time
    travel — vacuum_manifests' GDPR note)."""
    path = str(tmp_path / "t")
    publish_overwrite(
        spark,
        path,
        _mk(spark, [(1, "a", "a1"), (2, "b", "b1"), (3, "b", "b3")]),
        ["grp"],
    )
    stats = merge_into(
        spark,
        path,
        _mk(spark, [(2, "b", "b2"), (4, "a", "a4")]),
        ["id"],
        partition_by=["grp"],
    )
    assert stats["rows_updated"] == 1 and stats["rows_inserted"] == 1
    assert {(r.id, r.v) for r in read_table(spark, path).collect()} == {
        (1, "a1"),
        (2, "b2"),
        (3, "b3"),
        (4, "a4"),
    }
    # pre-merge snapshot still readable
    assert {(r.id, r.v) for r in read_table(spark, path, version=1).collect()} == {
        (1, "a1"),
        (2, "b1"),
        (3, "b3"),
    }
    # GDPR erasure: current clean AND history truncated
    stats = delete_rows(spark, path, "id = 2", partition_col="grp")
    assert stats["rows_deleted"] == 1
    assert read_table(spark, path).filter("id = 2").count() == 0
    m = read_manifest(path)
    assert vacuum_manifests(path, keep_last=99)["kept_versions"] == [
        m["version"]
    ]  # only the erased snapshot remains retrievable
    with pytest.raises(FileNotFoundError):
        read_table(spark, path, version=1)
    # and no retained file anywhere contains the erased row
    from pathlib import Path

    leftovers = [
        p
        for p in Path(path).rglob("*.parquet")
        if p.is_file()
        and spark.read.parquet(str(p)).filter("id = 2").count() > 0
    ]
    assert leftovers == []


def test_vacuum_manifests_keep_last(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(1, 4):
        publish_overwrite(
            spark,
            path,
            _mk(spark, [(1, "a", f"a{i}")]),
            ["grp"],
        )
    out = vacuum_manifests(path, keep_last=2)
    assert out["kept_versions"] == [3, 2]
    assert out["files_removed"] >= 1  # v1's data file reclaimed
    # retained snapshots readable, expired one gone
    assert read_table(spark, path, version=2).first().v == "a2"
    assert read_table(spark, path).first().v == "a3"
    with pytest.raises(FileNotFoundError):
        read_table(spark, path, version=1)


def test_publish_lock_hook_is_pluggable(spark, tmp_path, monkeypatch):
    """Round-7 VERDICT #5: the commit-phase lock is a module hook so an
    object-store deployment can swap the flock for a CAS lease."""
    from contextlib import contextmanager

    calls = []

    @contextmanager
    def recording_lock(live_dir):
        calls.append(str(live_dir))
        with lk._flock_publish_lock(live_dir):
            yield

    monkeypatch.setattr(lk, "publish_lock", recording_lock)
    path = str(tmp_path / "t")
    publish_overwrite(
        spark, path, _mk(spark, [(1, "a", "a1")]), ["grp"]
    )
    publish_overwrite(spark, path, _mk(spark, [(1, "a", "a2")]), ["grp"])
    assert calls == [path, path]


def test_unpartitioned_manifest_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    publish_overwrite(
        spark, path, _mk(spark, [(1, "a", "a1")])
    )
    publish_overwrite(spark, path, _mk(spark, [(9, "z", "z9")]))
    assert [(r.id, r.v) for r in read_table(spark, path).collect()] == [
        (9, "z9")
    ]
    assert [(r.id, r.v) for r in read_table(spark, path, version=1).collect()] == [
        (1, "a1")
    ]


def test_governed_time_travel(spark, tmp_path):
    """Round-7 VERDICT #8: version= reads compose with governance —
    row/column security applies to HISTORICAL rows exactly as to
    current ones; history is not a governance bypass; implicit deny
    holds for any version."""
    from tf_aws_lakeformation_governed_datalake_demo_spark import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        DataCellsFilter,
        PermissionDeniedError,
    )

    path = str(tmp_path / "accts")
    publish_overwrite(
        spark,
        path,
        spark.createDataFrame(
            [(1, "a", "s3cret-1", 10.0), (2, "b", "s3cret-2", 20.0)],
            "id long, grp string, secret string, bal double",
        ),
        ["grp"],
    )
    cat = GovernedCatalog(spark)
    cat.create_database("db")
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("secret", T.StringType()),
            T.StructField("bal", T.DoubleType()),
            T.StructField("grp", T.StringType()),
        ]
    )
    cat.register_table(
        TableDef("db", "accts", path, schema=schema, partition_keys=("grp",))
    )
    cat.create_data_cells_filter(
        DataCellsFilter(
            name="a-no-secret",
            database="db",
            table="accts",
            columns=("id", "bal", "grp"),
            row_filter="grp = 'a'",
        )
    )
    cat.grant("analyst", "SELECT", "db", "accts", via_filter="a-no-secret")
    # v2: update partition a's balance
    publish_overwrite(
        spark,
        path,
        spark.createDataFrame(
            [(1, "a", "s3cret-1", 99.0)], "id long, grp string, secret string, bal double"
        ),
        ["grp"],
    )
    cur = cat.table("db.accts", "analyst")
    assert [(r.id, r.bal) for r in cur.collect()] == [(1, 99.0)]
    assert "secret" not in cur.columns
    old = cat.table("db.accts", "analyst", version=1)
    assert [(r.id, r.bal) for r in old.collect()] == [(1, 10.0)]
    assert "secret" not in old.columns  # column security on history too
    # admin-free ungoverned read of history still works for admins only
    with pytest.raises(PermissionDeniedError):
        cat.table("db.accts", "stranger", version=1)
    # non-manifest/non-parquet tables refuse version reads
    cat.register_table(
        TableDef("db", "plain", str(tmp_path / "nope.csv"), format="csv")
    )
    cat.set_admins(["ops"])
    with pytest.raises(ValueError, match="time travel"):
        cat.table("db.plain", "ops", version=1)


def test_engine_sql_as_of_versions(spark, tmp_path):
    """Governed SQL AS OF: engine.sql(..., as_of_versions={table: N})
    resolves the named table to snapshot N with governance applied;
    views refuse direct versioning; snapshot identity is part of the
    result-reuse key."""
    from pyspark.sql import types as T

    from tf_aws_lakeformation_governed_datalake_demo_spark import (
        Engine,
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        DataCellsFilter,
    )

    path = str(tmp_path / "accts")
    publish_overwrite(
        spark,
        path,
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "id long, grp string, bal double"
        ),
        ["grp"],
    )
    cat = GovernedCatalog(spark)
    cat.create_database("db")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("bal", T.DoubleType()),
            T.StructField("grp", T.StringType()),
        ]
    )
    cat.register_table(
        TableDef("db", "accts", path, schema=schema, partition_keys=("grp",))
    )
    cat.create_data_cells_filter(
        DataCellsFilter(
            name="a-only",
            database="db",
            table="accts",
            columns=("id", "bal", "grp"),
            row_filter="grp = 'a'",
        )
    )
    cat.grant("analyst", "SELECT", "db", "accts", via_filter="a-only")
    eng = Engine(spark, cat)
    publish_overwrite(
        spark,
        path,
        spark.createDataFrame([(1, "a", 99.0)], "id long, grp string, bal double"),
        ["grp"],
    )
    q = "SELECT id, bal FROM db.accts ORDER BY id"
    assert [(r.id, r.bal) for r in eng.sql(q, principal="analyst").collect()] == [
        (1, 99.0)
    ]
    old = eng.sql(q, principal="analyst", as_of_versions={"db.accts": 1})
    assert [(r.id, r.bal) for r in old.collect()] == [(1, 10.0)]
    # reuse keys differ by snapshot: versioned and unversioned results
    # do not cross-hit
    r_now = eng.sql(q, principal="analyst", reuse_max_age=300).collect()
    r_old = eng.sql(
        q, principal="analyst", reuse_max_age=300, as_of_versions={"db.accts": 1}
    ).collect()
    assert [(r.id, r.bal) for r in r_now] == [(1, 99.0)]
    assert [(r.id, r.bal) for r in r_old] == [(1, 10.0)]
    # views refuse direct AS OF
    cat.create_view("db", "v_accts", "SELECT id FROM db.accts")
    with pytest.raises(ValueError, match="AS OF applies to tables"):
        eng.sql(
            "SELECT * FROM db.v_accts",
            principal="analyst",
            as_of_versions={"db.v_accts": 1},
        )


def test_compact_in_place_on_manifest_table(spark, tmp_path):
    """Compaction commits a new snapshot: fragmented current files roll
    into ~one file per partition, the pre-compaction snapshot stays
    readable until vacuum, and file counts reflect the manifest (not
    historical leftovers)."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        compact_in_place,
    )

    path = str(tmp_path / "t")
    frag = _mk(
        spark, [(i, "a" if i % 2 else "b", f"v{i}") for i in range(20)]
    ).repartition(8)
    publish_overwrite(spark, path, frag, ["grp"])
    n_before = len(read_manifest(path)["files"])
    assert n_before > 2
    before_rows = sorted(map(tuple, read_table(spark, path).collect()))
    n1, n2 = compact_in_place(spark, path, partition_by=["grp"])
    assert n1 == n_before and n2 == 2  # one file per partition now
    assert sorted(map(tuple, read_table(spark, path).collect())) == before_rows
    # pre-compaction snapshot still readable (same rows, old layout)
    assert (
        sorted(map(tuple, read_table(spark, path, version=1).collect()))
        == before_rows
    )


def test_engine_history_and_expire_snapshots(spark, tmp_path):
    """DESCRIBE HISTORY analog + governed time-travel retention: the
    snapshot chain reads newest-first for granted principals only, and
    maintain('expire_snapshots') physically expires past the horizon."""
    from pyspark.sql import types as T

    from tf_aws_lakeformation_governed_datalake_demo_spark import (
        Engine,
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        PermissionDeniedError,
    )

    lake = str(tmp_path / "lake")
    path = f"{lake}/t"
    for i in range(1, 4):
        publish_overwrite(
            spark,
            path,
            _mk(spark, [(1, "a", f"a{i}")]),
            ["grp"],
        )
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("grp", T.StringType()),
        ]
    )
    cat.register_table(
        TableDef("db", "t", path, schema=schema, partition_keys=("grp",))
    )
    cat.grant("analyst", "SELECT", "db", "t")
    cat.set_admins(["ops"])
    eng = Engine(spark, cat)

    h = eng.history("db.t", "analyst")
    assert [x["version"] for x in h] == [3, 2, 1]
    assert all(x["n_files"] >= 1 and x["partition_by"] == ["grp"] for x in h)
    with pytest.raises(PermissionDeniedError):
        eng.history("db.t", "stranger")

    out = eng.maintain("db.t", "expire_snapshots", principal="ops", keep_last=2)
    assert out["kept_versions"] == [3, 2]
    assert [x["version"] for x in eng.history("db.t", "ops")] == [3, 2]
    with pytest.raises(FileNotFoundError):
        read_table(spark, path, version=1)
    # audited like every maintenance action
    assert any(
        e["query"] == "MAINTAIN expire_snapshots db.t" and e["status"] == "ok"
        for e in cat.audit.events
    )


def test_cdc_merge_on_manifest_dimension(spark, sf_dir, tmp_path):
    """The CDC foreachBatch merge composes with manifest commits: each
    batch commits one snapshot, a reader planned before the batches
    still collects its own snapshot afterwards (streaming upserts never
    tear a dimension read), and the final state equals global
    latest-per-key. Uses the SAME cdc_* helpers the registered
    stream_cdc_upsert operator runs."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.operators.streaming_ops import (
        cdc_apply_batch,
        cdc_latest_per_user,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import load

    e = load(spark, sf_dir, "events")
    dim = str(tmp_path / "dim")
    seed = e.filter(F.col("event_id") % 7 == 0)
    seeded = cdc_latest_per_user(seed)
    publish_overwrite(spark, dim, seeded, ["bucket"])
    dim_schema = seeded.schema

    pre = read_table(spark, dim, dim_schema)  # planned against snapshot 1
    rest = e.filter(F.col("event_id") % 7 != 0)
    cdc_apply_batch(
        spark, dim, dim_schema, rest.filter(F.col("event_id") % 2 == 0)
    )
    cdc_apply_batch(
        spark, dim, dim_schema, rest.filter(F.col("event_id") % 2 == 1)
    )
    assert read_manifest(dim)["version"] == 3  # seed + two batch commits
    # snapshot isolation across both merges
    assert sorted(map(tuple, pre.collect())) == sorted(
        map(tuple, seeded.collect())
    )
    # final state = global latest-per-key
    want = sorted(map(tuple, cdc_latest_per_user(e).collect()))
    got = sorted(map(tuple, read_table(spark, dim, dim_schema).collect()))
    assert got == want


def test_table_changes_reads_only_delta_files(spark, tmp_path):
    """The CDF primitive prunes at PLANNING time: a merge that rewrites
    one partition of three yields a change feed whose scan lists ONLY
    that partition's old+new files — carried partitions never enter the
    plan (the O(delta) guarantee a 100 TB consumer needs)."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        table_changes,
    )

    path = str(tmp_path / "t")
    v1 = _mk(
        spark,
        [(1, "a", "a1"), (2, "b", "b1"), (3, "c", "c1"), (4, "b", "b4")],
    )
    publish_overwrite(spark, path, v1, ["grp"])
    # rewrite partition b only: update id=2, keep id=4 carried-in-place
    merge_into(
        spark,
        path,
        _mk(spark, [(2, "b", "b2")]),
        ["id"],
        partition_by=["grp"],
        schema=v1.schema,
        collect_stats=False,
    )
    tc = table_changes(spark, path, 1)
    got = {(r.id, r.grp, r.v, r._change_type) for r in tc.collect()}
    # id=4 was rewritten into the new b files byte-identically — it
    # cancels in the multiset difference; only the real change surfaces
    assert got == {(2, "b", "b2", "insert"), (2, "b", "b1", "delete")}
    m1, m2 = read_manifest(path, 1), read_manifest(path, 2)
    delta = set(m2["files"]) ^ set(m1["files"])
    scanned = {f.split(path + "/", 1)[1] for f in tc.inputFiles()}
    assert scanned == delta
    assert all(f.startswith("grp=b/") for f in scanned)


def test_table_changes_composes_and_inverts(spark, tmp_path):
    """1→3 equals the multiset union of 1→2 and 2→3 after cancelling
    intermediate churn; from>to yields the rollback feed; same-version
    diff is empty with the table schema + _change_type."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        table_changes,
    )

    path = str(tmp_path / "t")
    publish_overwrite(
        spark, path, _mk(spark, [(1, "a", "a1")]), ["grp"]
    )
    publish_overwrite(spark, path, _mk(spark, [(1, "a", "a2"), (2, "b", "b1")]), ["grp"])
    publish_overwrite(spark, path, _mk(spark, [(1, "a", "a3")]), ["grp"])

    def feed(a, b):
        return sorted(
            (r.id, r.grp, r.v, r._change_type)
            for r in table_changes(spark, path, a, b).collect()
        )

    assert feed(1, 3) == [
        (1, "a", "a1", "delete"),
        (1, "a", "a3", "insert"),
        (2, "b", "b1", "insert"),
    ]
    # rollback feed = the inverse change types
    assert feed(3, 1) == [
        (1, "a", "a1", "insert"),
        (1, "a", "a3", "delete"),
        (2, "b", "b1", "delete"),
    ]
    empty = table_changes(spark, path, 2, 2)
    assert empty.count() == 0
    # schema=None resolves to the snapshot's RECORDED writer schema
    # (round-8): declared order, not the hive partition-cols-last read
    # order — stable regardless of which file a footer race would pick
    assert empty.columns == ["id", "grp", "v", "_change_type"]
    # applying the 1→3 feed to v1 reproduces v3 exactly
    v1 = read_table(spark, path, version=1)
    tc = table_changes(spark, path, 1, 3)
    ins = tc.filter(F.col("_change_type") == "insert").drop("_change_type")
    dels = tc.filter(F.col("_change_type") == "delete").drop("_change_type")
    rebuilt = v1.select(*ins.columns).exceptAll(dels).unionByName(ins)
    want = read_table(spark, path, version=3).select(*ins.columns)
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_table_changes_schema_evolution_null_fills(spark, tmp_path):
    """A column added between the snapshots is NULL on the delete side
    of the feed (the mergeSchema read contract)."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        table_changes,
    )

    path = str(tmp_path / "t")
    publish_overwrite(
        spark, path, _mk(spark, [(1, "a", "a1")]), ["grp"]
    )
    evolved = spark.createDataFrame(
        [(1, "a", "a2", 7)], "id long, grp string, v string, extra long"
    )
    publish_overwrite(spark, path, evolved, ["grp"])
    got = {
        (r.id, r.v, r.extra, r._change_type)
        for r in table_changes(spark, path, 1).collect()
    }
    assert got == {(1, "a2", 7, "insert"), (1, "a1", None, "delete")}


def test_rollback_table_restores_snapshot(spark, tmp_path):
    """RESTORE is a pure metadata commit: rolling back to v1 commits a
    NEW snapshot (v3) with v1's file list — no data moves, the bad
    publish (v2) stays time-travel-readable, rolling forward again is
    another rollback, and a rollback can never resurrect erased rows
    because delete_rows truncates history first."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        rollback_table,
    )

    path = str(tmp_path / "t")
    publish_overwrite(
        spark,
        path,
        _mk(spark, [(1, "a", "good"), (2, "b", "keep")]),
        ["grp"],
    )
    publish_overwrite(spark, path, _mk(spark, [(1, "a", "BAD")]), ["grp"])
    out = rollback_table(path, 1)
    assert out == {"rolled_back_to": 1, "new_version": 3, "n_files": 2}
    cur = {(r.id, r.v) for r in read_table(spark, path).collect()}
    assert cur == {(1, "good"), (2, "keep")}
    # history is linear: v3's parent is v2, and the bad state is still
    # inspectable via time travel until vacuumed
    m = read_manifest(path)
    assert m["version"] == 3 and m["parent"] == 2
    bad = {(r.id, r.v) for r in read_table(spark, path, version=2).collect()}
    assert bad == {(1, "BAD"), (2, "keep")}
    # roll forward to the bad state again — every retained state reachable
    assert rollback_table(path, 2)["new_version"] == 4
    assert {(r.id, r.v) for r in read_table(spark, path).collect()} == bad
    # rollback to the current state is a no-op commit
    assert rollback_table(path, 4)["new_version"] == 4
    # erased history cannot be restored
    delete_rows(spark, path, "id = 1", partition_col="grp")
    with pytest.raises(FileNotFoundError):
        rollback_table(path, 2)


def test_engine_maintain_rollback_governed(spark, tmp_path):
    """maintain('rollback') is admin-gated like every maintenance
    action and audits the target version verbatim."""
    from pyspark.sql import types as T

    from tf_aws_lakeformation_governed_datalake_demo_spark import (
        Engine,
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        PermissionDeniedError,
    )

    lake = str(tmp_path / "lake")
    path = f"{lake}/t"
    publish_overwrite(
        spark, path, _mk(spark, [(1, "a", "v1")]), ["grp"]
    )
    publish_overwrite(spark, path, _mk(spark, [(1, "a", "v2")]), ["grp"])
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("v", T.StringType()),
        ]
    )
    cat.register_table(
        TableDef("db", "t", path, schema=schema, partition_keys=("grp",))
    )
    cat.set_admins(["ops"])
    eng = Engine(spark, cat)
    with pytest.raises(PermissionDeniedError):
        eng.maintain("db.t", "rollback", principal="intern", to_version=1)
    with pytest.raises(ValueError):
        eng.maintain("db.t", "rollback", principal="ops")
    out = eng.maintain("db.t", "rollback", principal="ops", to_version=1)
    assert out["rolled_back_to"] == 1 and out["new_version"] == 3
    assert {r.v for r in read_table(spark, path).collect()} == {"v1"}
    assert any(
        e["query"] == "MAINTAIN rollback db.t TO VERSION 1"
        and e["status"] == "ok"
        for e in cat.audit.events
    )
    # the denied attempt is in the trail too
    assert any(
        e["query"] == "MAINTAIN rollback db.t TO VERSION 1"
        and e["status"] == "denied"
        for e in cat.audit.events
    )


def test_manifest_commit_records_file_stats(spark, tmp_path, monkeypatch):
    """Every commit records per-file column min/max from the parquet
    footers; carried files INHERIT the parent snapshot's stats without
    re-reading any footer (the at-scale invariant: commit cost is
    O(new files), never O(table))."""
    path = str(tmp_path / "t")
    publish_overwrite(
        spark,
        path,
        _mk(spark, [(1, "a", "a1"), (9, "b", "b1")]),
        ["grp"],
    )
    m1 = read_manifest(path)
    assert set(m1["file_stats"]) == set(m1["files"])
    by_part = {
        f.split("/")[0]: s["id"] for f, s in m1["file_stats"].items()
    }
    assert by_part == {"grp=a": [1, 1], "grp=b": [9, 9]}

    calls = []
    real = lk._file_column_stats

    def counting(fpath):
        calls.append(str(fpath))
        return real(fpath)

    monkeypatch.setattr(lk, "_file_column_stats", counting)
    # rewrite partition a only: b's file is carried with inherited stats
    publish_overwrite(spark, path, _mk(spark, [(2, "a", "a2")]), ["grp"])
    m2 = read_manifest(path)
    assert all("grp=a" in c for c in calls)  # footer reads: new files only
    b_file = next(f for f in m2["files"] if f.startswith("grp=b"))
    assert m2["file_stats"][b_file] == m1["file_stats"][b_file]
    a_file = next(f for f in m2["files"] if f.startswith("grp=a"))
    assert m2["file_stats"][a_file]["id"] == [2, 2]


def test_read_table_prune_skips_files_fail_open(spark, tmp_path):
    """prune= eliminates files whose recorded [min,max] cannot
    intersect the range — planning-time, zero footer reads — and fails
    OPEN for unrecorded columns. Pruning composes with the actual
    filter, so results equal the unpruned read exactly."""
    path = str(tmp_path / "t")
    rows = [(i, "g", f"v{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, grp string, v string")
    publish_overwrite(
        spark, path, df.repartitionByRange(5, "id"), None
    )
    m = read_manifest(path)
    assert len(m["files"]) == 5
    pruned = read_table(spark, path, df.schema, prune={"id": (30, 45)})
    assert 1 <= len(pruned.inputFiles()) <= 2
    want = sorted(r.id for r in df.filter("id BETWEEN 30 AND 45").collect())
    got = sorted(
        r.id for r in pruned.filter("id BETWEEN 30 AND 45").collect()
    )
    assert got == want
    # open-ended bound
    lopen = read_table(spark, path, df.schema, prune={"id": (80, None)})
    assert len(lopen.inputFiles()) == 1
    # unrecorded column: fail open — all files scanned
    noop = read_table(spark, path, df.schema, prune={"nope": (0, 1)})
    assert len(noop.inputFiles()) == 5
    # everything pruned: empty result, declared schema preserved
    none = read_table(spark, path, df.schema, prune={"id": (1000, None)})
    assert none.count() == 0 and none.columns == ["id", "grp", "v"]
    # everything pruned without a schema: zero rows, real shape
    none2 = read_table(spark, path, prune={"id": (1000, None)})
    assert none2.count() == 0 and set(none2.columns) == {"id", "grp", "v"}


def test_consume_table_changes_checkpointed(spark, tmp_path):
    """The incremental consumer: first call seeds with the full
    snapshot, each later call returns only the changes since the
    committed checkpoint, an idle consumer gets an empty feed, a crash
    before commit() replays the same feed (at-least-once), and
    consumption resumes across 'restarts' (a fresh call with the same
    checkpoint file)."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        consume_table_changes,
    )

    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "consumer.ckpt")
    publish_overwrite(
        spark,
        path,
        _mk(spark, [(1, "a", "a1"), (2, "b", "b1")]),
        ["grp"],
    )
    feed, v, commit = consume_table_changes(spark, path, ckpt)
    assert v == 1
    assert sorted((r.id, r._change_type) for r in feed.collect()) == [
        (1, "insert"),
        (2, "insert"),
    ]
    # crash before commit: the same seed replays
    feed2, v2, commit2 = consume_table_changes(spark, path, ckpt)
    assert v2 == 1 and feed2.count() == 2
    commit2()
    # idle: empty feed, same version, schema intact
    feed3, v3, _ = consume_table_changes(spark, path, ckpt)
    assert v3 == 1 and feed3.count() == 0
    assert "_change_type" in feed3.columns
    # two publishes, one consumption: the feeds telescope
    publish_overwrite(spark, path, _mk(spark, [(1, "a", "a2")]), ["grp"])
    publish_overwrite(spark, path, _mk(spark, [(3, "b", "b3")]), ["grp"])
    feed4, v4, commit4 = consume_table_changes(spark, path, ckpt)
    assert v4 == 3
    got = sorted((r.id, r.v, r._change_type) for r in feed4.collect())
    # publish 3 REPLACED partition b wholesale, so (2, b1) is deleted
    assert got == [
        (1, "a1", "delete"),
        (1, "a2", "insert"),
        (2, "b1", "delete"),
        (3, "b3", "insert"),
    ]
    commit4()
    feed5, v5, _ = consume_table_changes(spark, path, ckpt)
    assert v5 == 3 and feed5.count() == 0


def test_governed_read_with_manifest_prune(spark, tmp_path):
    """prune= composes with governance BELOW the row/column transforms:
    the analyst's pruned read equals their unpruned read exactly (row
    security still applied), while scanning a subset of the snapshot's
    files."""
    from pyspark.sql import types as T

    from tf_aws_lakeformation_governed_datalake_demo_spark import (
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        DataCellsFilter,
    )

    lake = str(tmp_path / "lake")
    path = f"{lake}/t"
    rows = [(i, "ok" if i % 3 else "secret", f"v{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, cls string, v string")
    publish_overwrite(
        spark, path, df.repartitionByRange(5, "id"), None
    )
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("cls", T.StringType()),
            T.StructField("v", T.StringType()),
        ]
    )
    cat.register_table(TableDef("db", "t", path, schema=schema))
    cat.create_data_cells_filter(
        DataCellsFilter(
            name="ok_rows", database="db", table="t",
            row_filter="cls = 'ok'", columns=["id", "cls", "v"],
        )
    )
    cat.grant("analyst", "SELECT", "db", "t", via_filter="ok_rows")

    full = cat.table("db.t", "analyst")
    pruned = cat.table("db.t", "analyst", prune={"id": (30, 45)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    want = sorted(
        map(tuple, full.filter("id BETWEEN 30 AND 45").collect())
    )
    got = sorted(
        map(tuple, pruned.filter("id BETWEEN 30 AND 45").collect())
    )
    assert got == want and all(r[1] == "ok" for r in got) and got


def test_bloom_point_prune_records_inherits_fails_open(spark, tmp_path):
    """S28: per-file bloom bitmaps recorded at commit prune point
    lookups on hash-clustered layouts where min/max stats cannot; a
    merge carries untouched files' bitmaps from the parent (no
    recompute); unsupported column types record nothing and fail OPEN."""
    path = str(tmp_path / "t")
    rows = [(i, "u%d" % (i % 7), float(i) / 3) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, user string, v double")
    # hash-cluster on user: every file spans the full id/user range
    publish_overwrite(
        spark,
        path,
        df.repartition(4, F.col("user")),
        None,
        bloom_cols=["user", "id", "v"],  # v is double -> not recorded
    )
    m = read_manifest(path)
    assert m["version"] == 1 and m["file_blooms"]
    for b in m["file_blooms"].values():
        assert set(b) == {"user", "id"}  # v skipped (float string forms)

    # point lookup on the clustered key prunes to ~1 file, same rows
    pruned = read_table(spark, path, df.schema, prune={"user": "u3"})
    full = read_table(spark, path, df.schema)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert sorted(
        r.id for r in pruned.filter(F.col("user") == "u3").collect()
    ) == sorted(r.id for r in full.filter(F.col("user") == "u3").collect())
    # unrecorded column -> fail open (all files kept)
    assert len(
        read_table(spark, path, df.schema, prune={"v": 1.0}).inputFiles()
    ) == len(full.inputFiles())
    # recorded int column probed with a FLOAT -> bloom must fail open
    # (str(5.0) != CAST(5 AS STRING): probing would false-negative the
    # file holding id=5); min/max still applies numerically, rows exact
    fl = read_table(spark, path, df.schema, prune={"id": 5.0})
    assert sorted(r.id for r in fl.filter(F.col("id") == 5.0).collect()) == [5]
    # bool probe is never a bloom probe either (str(True) != 'true')
    assert (
        read_table(spark, path, df.schema, prune={"id": True})
        .filter(F.col("id") == 1)
        .count()
        == 1
    )
    # a key that exists nowhere prunes everything (planning-time empty)
    assert (
        read_table(spark, path, df.schema, prune={"user": "nope"}).count()
        == 0
    )

    # a whole-table rewrite WITHOUT bloom_cols drops the bitmaps for
    # its new files — reads fail OPEN (prune keeps all files), rows
    # stay correct through version 2
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(1, "u1", 9.9)], "id long, user string, v double"
        ),
        ["id"],
        collect_stats=False,
    )
    assert read_manifest(path)["version"] == 2
    got = read_table(spark, path, df.schema, prune={"id": 1}).filter(
        F.col("id") == 1
    )
    assert [(r.id, r.user) for r in got.collect()] == [(1, "u1")]


def test_bloom_inherited_by_partition_merge_and_append(spark, tmp_path):
    """Carried files keep their parent-recorded bitmaps through a
    partition-scoped merge (structural: the carried relpaths' bloom
    entries are identical objects to the parent's), and append_rows
    records bitmaps for its batch files only."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 2), "k%d" % i) for i in range(40)],
        "id long, grp string, k string",
    )
    publish_overwrite(
        spark, path, df, ["grp"], bloom_cols=["k"]
    )
    v1 = read_manifest(path)
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(0, "g0", "k0x")], "id long, grp string, k string"
        ),
        ["id"],
        partition_by=["grp"],
        collect_stats=False,
        bloom_cols=["k"],
    )
    v2 = read_manifest(path)
    carried = [f for f in v2["files"] if f in set(v1["files"])]
    assert carried and all(
        v2["file_blooms"].get(f) == v1["file_blooms"].get(f) for f in carried
    )
    # append: new batch files get bitmaps; carried keep theirs
    snap = append_rows(
        spark,
        path,
        spark.createDataFrame(
            [(100, "g0", "k100")], "id long, grp string, k string"
        ),
        ["grp"],
        bloom_cols=["k"],
    )
    new = [f for f in snap["files"] if f not in set(v2["files"])]
    assert new and all(f in snap["file_blooms"] for f in new)
    pruned = read_table(spark, path, df.schema, prune={"k": "k100"})
    assert len(pruned.inputFiles()) < len(snap["files"])
    assert pruned.filter(F.col("k") == "k100").count() == 1
    # RESTORE is metadata-only: the rolled-back snapshot inherits the
    # TARGET's recorded stats and blooms verbatim (no footer re-reads,
    # no bloom loss — point pruning keeps working after a restore)
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        rollback_table,
    )

    rollback_table(path, 1)
    restored = read_manifest(path)
    assert restored["files"] == v1["files"]
    assert restored.get("file_blooms") == v1.get("file_blooms")
    assert restored.get("file_stats") == v1.get("file_stats")
    assert (
        len(
            read_table(spark, path, df.schema, prune={"k": "k3"}).inputFiles()
        )
        < len(v1["files"])
    )


def test_concurrent_rewrites_conflict_not_lost_update(spark, tmp_path):
    """Optimistic concurrency (round-8): two writers both compute a
    merge against snapshot v1; the first commits v2, the second's
    commit must RAISE — committing would silently drop the first
    writer's row (the lost update last-write-wins allowed before).
    The failed commit leaves the table byte-identical; re-running the
    stale merge against the current snapshot converges."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        ConcurrentLakeModificationError,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        publish_overwrite as po,
    )

    path = str(tmp_path / "t")
    base = _mk(spark, [(1, "a", "v1"), (2, "b", "v1")])
    publish_overwrite(spark, path, base, ["grp"])

    # writer B stages its rewrite against v1 ... then writer A commits
    b_result = read_table(spark, path).filter(F.col("id") == 2).withColumn(
        "v", F.lit("from_b")
    ).select("id", "grp", "v").localCheckpoint(eager=True)
    merge_into(  # writer A lands first: v2
        spark, path, _mk(spark, [(1, "a", "from_a")]), ["id"],
        partition_by=["grp"], collect_stats=False,
    )
    with pytest.raises(ConcurrentLakeModificationError, match="v2"):
        po(spark, path, b_result, ["grp"], expected_version=1)
    # nothing committed, nothing lost
    m = read_manifest(path)
    assert m["version"] == 2
    got = {(r.id, r.v) for r in read_table(spark, path).collect()}
    assert got == {(1, "from_a"), (2, "v1")}
    # retry against the current snapshot converges
    merge_into(
        spark, path, _mk(spark, [(2, "b", "from_b")]), ["id"],
        partition_by=["grp"], collect_stats=False,
    )
    got = {(r.id, r.v) for r in read_table(spark, path).collect()}
    assert got == {(1, "from_a"), (2, "from_b")}


def test_appends_interleave_with_rewrites_without_conflict(spark, tmp_path):
    """Appends commute: an append landing between a merge's read and
    its commit is a real conflict (the merge's carried file list would
    drop the appended file) — the merge must raise; the appended rows
    must survive. And an append after any rewrite needs no check at
    all (it recomputes carried files under the commit lock)."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        ConcurrentLakeModificationError,
        append_rows,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        publish_overwrite as po,
    )

    path = str(tmp_path / "t")
    publish_overwrite(
        spark, path, _mk(spark, [(1, "a", "x")]), ["grp"]
    )
    rewrite = read_table(spark, path).localCheckpoint(eager=True)
    append_rows(spark, path, _mk(spark, [(2, "b", "y")]), ["grp"])
    with pytest.raises(ConcurrentLakeModificationError):
        po(spark, path, rewrite, ["grp"], expected_version=1)
    assert read_table(spark, path).count() == 2  # append survived
    append_rows(spark, path, _mk(spark, [(3, "a", "z")]), ["grp"])
    assert {r.id for r in read_table(spark, path).collect()} == {1, 2, 3}


def test_timestamp_as_of_resolution_and_read(spark, sf_dir, tmp_path):
    """TIMESTAMP AS OF: resolve to the newest retained snapshot at or
    before the instant; pre-history timestamps fail loudly."""
    import time as _t

    import pytest as _pytest

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
        load,
        publish_overwrite,
        read_manifest,
        read_table,
        version_at_timestamp,
    )

    n = load(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_ts")
    publish_overwrite(spark, path, n, None)
    t1 = read_manifest(path)["committed_at"]
    append_rows(spark, path, n.limit(3))
    t2 = read_manifest(path)["committed_at"]
    assert version_at_timestamp(path, t1) == 1
    assert version_at_timestamp(path, (t1 + t2) / 2) == 1
    assert version_at_timestamp(path, _t.time() + 60) == 2
    assert read_table(spark, path, as_of_timestamp=t1).count() == n.count()
    assert (
        read_table(spark, path, as_of_timestamp=t2).count() == n.count() + 3
    )
    with _pytest.raises(FileNotFoundError, match="no retained snapshot"):
        version_at_timestamp(path, t1 - 10)
    with _pytest.raises(ValueError, match="not both"):
        read_table(spark, path, version=1, as_of_timestamp=t1)


def test_verify_table_clean_and_detects_damage(spark, sf_dir, tmp_path):
    """fsck: a healthy table verifies ok (deep included); a deleted
    committed file is reported missing; an in-place replacement is
    caught by the deep stats comparison; crashed-publish debris shows
    as orphans without failing the check."""
    from pathlib import Path

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
        load,
        publish_overwrite,
        read_manifest,
        verify_table,
    )

    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = str(tmp_path / "nation_fsck")
    publish_overwrite(spark, path, n, ["n_regionkey"])
    append_rows(spark, path, n.limit(2), partition_by=["n_regionkey"])
    rep = verify_table(path, deep=True)
    assert rep["ok"] and rep["snapshots_checked"] == [2, 1]
    assert not rep["missing"] and not rep["stat_mismatches"]

    # orphan: a stray data file nothing references
    stray = Path(path) / "n_regionkey=0" / "part-stray.parquet"
    n.limit(1).toPandas().to_parquet(stray)
    rep = verify_table(path)
    assert rep["ok"] and rep["orphans"] == ["n_regionkey=0/part-stray.parquet"]
    stray.unlink()

    # in-place replacement: same name, different content -> deep catches
    victim = read_manifest(path)["files"][0]
    vp = Path(path) / victim
    original = vp.read_bytes()
    import pandas as pd

    pd.DataFrame(
        {"n_nationkey": [999], "n_name": ["zz"]}
    ).to_parquet(vp)
    rep = verify_table(path, deep=True)
    assert not rep["ok"] and rep["stat_mismatches"]
    vp.write_bytes(original)

    # missing committed file
    vp.unlink()
    rep = verify_table(path)
    assert not rep["ok"] and rep["missing"] == [victim]


def test_history_reports_tombstones_and_constraints(spark, sf_dir, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark import Engine, TableDef
    from tf_aws_lakeformation_governed_datalake_demo_spark import fixtures as fx
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        add_constraint,
        delete_rows_mor,
        load,
        publish_overwrite,
    )

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    cat.set_admins(["ops"])
    eng = Engine(spark, cat)
    loc = f"{lake}/docs_hist"
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    publish_overwrite(spark, loc, d, ["lang"])
    add_constraint(spark, loc, "chars_positive", "n_chars > 0")
    delete_rows_mor(spark, loc, "n_chars < 100", count=False)
    cat.register_table(
        TableDef(fx.DATABASE, "docs_hist", loc, partition_keys=("lang",))
    )
    hist = eng.history(f"{fx.DATABASE}.docs_hist", principal="ops")
    assert [h["version"] for h in hist] == [3, 2, 1]
    assert hist[0]["n_tombstones"] == 1 and hist[2]["n_tombstones"] == 0
    assert hist[0]["constraints"] == ["chars_positive"]
    assert hist[2]["constraints"] == []


def test_compact_cluster_by_partitioned_and_purges_tombstones(
    spark, sf_dir, tmp_path
):
    """OPTIMIZE with clustering on a hive-partitioned manifest table:
    rows preserved exactly, each partition dir's files split the
    cluster range (selective per-file stats), and accumulated
    merge-on-read tombstones are materialized and cleared by the
    rewrite."""
    from pyspark.sql import functions as F

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        compact_in_place,
        delete_rows_mor,
        load,
        publish_overwrite,
        read_manifest,
        read_table,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = str(tmp_path / "docs_opt")
    publish_overwrite(spark, path, d.repartition(8), ["lang"])
    delete_rows_mor(spark, path, "n_chars < 100", count=False)
    expect = sorted(
        tuple(r)
        for r in d.filter(~(F.col("n_chars") < 100)).collect()
    )
    total = sum(
        (__import__("pathlib").Path(path) / f).stat().st_size
        for f in read_manifest(path)["files"]
    )
    compact_in_place(
        spark,
        path,
        partition_by=["lang"],
        target_file_bytes=max(1, total // 6),
        cluster_by=["n_chars"],
    )
    m = read_manifest(path)
    assert not m.get("delete_predicates")  # purge rode the rewrite
    got = sorted(tuple(r) for r in read_table(spark, path).collect())
    assert got == expect
    # per-file stats are narrow: within a partition, files must not all
    # span the same full range (at least one pair of disjoint ranges)
    from collections import defaultdict
    from pathlib import Path

    by_part = defaultdict(list)
    for f, st in m["file_stats"].items():
        if "n_chars" in st:
            by_part[str(Path(f).parent)].append(tuple(st["n_chars"]))
    multi = {p: sorted(v) for p, v in by_part.items() if len(v) > 1}
    assert multi, "expected multiple files in at least one partition"
    assert any(
        ranges[0][1] < ranges[-1][0] for ranges in multi.values()
    ), multi


def test_governed_sql_timestamp_as_of(spark, sf_dir, tmp_path):
    """TIMESTAMP AS OF through the governed engine: the resolved
    historical snapshot passes the same enforcement as a current read."""
    from tf_aws_lakeformation_governed_datalake_demo_spark import Engine, TableDef
    from tf_aws_lakeformation_governed_datalake_demo_spark import fixtures as fx
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
        load,
        publish_overwrite,
        read_manifest,
    )

    lake = str(tmp_path / "lake")
    cat = fx.bootstrap(spark, lake)
    cat.set_admins(["ops"])
    eng = Engine(spark, cat)
    loc = f"{lake}/docs_ts"
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    publish_overwrite(spark, loc, d, ["lang"])
    t1 = read_manifest(loc)["committed_at"]
    append_rows(
        spark, loc, d.limit(7).selectExpr("doc_id + 90000000 AS doc_id", "lang", "n_chars"),
        partition_by=["lang"],
    )
    cat.register_table(
        TableDef(fx.DATABASE, "docs_ts", loc, partition_keys=("lang",))
    )
    q = f"{fx.DATABASE}.docs_ts"
    now_n = eng.sql(f"SELECT count(*) AS n FROM {q}", principal="ops").first().n
    old_n = (
        eng.sql(
            f"SELECT count(*) AS n FROM {q}",
            principal="ops",
            as_of_timestamps={q: t1},
        )
        .first()
        .n
    )
    assert now_n == old_n + 7
    import pytest as _pytest

    with _pytest.raises(ValueError, match="both"):
        eng.sql(
            f"SELECT count(*) AS n FROM {q}",
            principal="ops",
            as_of_versions={q: 1},
            as_of_timestamps={q: t1},
        )


def test_count_rows_metadata_only(spark, tmp_path, monkeypatch):
    """count(*) from the manifest: exact after publish and append, the
    append pays footer reads for NEW files only (carried counts
    inherited), tombstones fail closed to None, purge restores the
    metadata answer, and a pre-recording snapshot returns None."""
    import json

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
        count_rows,
        purge_deleted_rows,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        delete_rows_mor,
    )

    path = str(tmp_path / "t")
    seed = _mk(
        spark, [(i, "a" if i % 2 else "b", f"v{i}") for i in range(10)]
    )
    publish_overwrite(spark, path, seed, ["grp"])
    meta = count_rows(path)
    assert meta["rows"] == 10
    assert meta["partitions"] == {"grp=a": 5, "grp=b": 5}

    # the append's commit must read footers for the BATCH files only
    calls = []
    real = lk._file_footer_info

    def spy(fpath):
        calls.append(str(fpath))
        return real(fpath)

    monkeypatch.setattr(lk, "_file_footer_info", spy)
    append_rows(spark, path, _mk(spark, [(100, "a", "x")]), ["grp"])
    carried = set(read_manifest(path, 1)["files"])
    assert calls and not any(
        c.endswith(f) for c in calls for f in carried
    )
    monkeypatch.setattr(lk, "_file_footer_info", real)
    meta = count_rows(path)
    assert meta["rows"] == 11 and meta["partitions"]["grp=a"] == 6

    # merge-on-read tombstone: visible rows != file rows -> fail closed
    delete_rows_mor(spark, path, "id = 100")
    assert count_rows(path) is None
    assert count_rows(path, version=2) == meta  # history still answers
    purge_deleted_rows(spark, path)
    assert count_rows(path)["rows"] == 10

    # a snapshot without recorded counts (pre-feature) answers None
    m = read_manifest(path)
    m.pop("file_rows")
    (tmp_path / "t" / "_manifest.json").write_text(json.dumps(m))
    assert count_rows(path) is None


def test_count_rows_spans_partition_specs(spark, tmp_path):
    """On a partition-evolved table the per-partition keys are each
    file's OWN layout directories — counts stay exact across specs."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
        count_rows,
        evolve_partitioning,
    )

    path = str(tmp_path / "t")
    publish_overwrite(
        spark,
        path,
        _mk(spark, [(1, "a", "x"), (2, "b", "y")]),
        ["grp"],
    )
    evolve_partitioning(path, ["v"])
    append_rows(spark, path, _mk(spark, [(3, "c", "z")]), ["v"])
    meta = count_rows(path)
    assert meta["rows"] == 3
    assert meta["partitions"] == {"grp=a": 1, "grp=b": 1, "v=z": 1}


def test_snapshot_tags_pin_retention_until_dropped(spark, tmp_path):
    """Tags (Iceberg analog): a tagged snapshot and its files survive
    vacuum past any keep_last horizon and stay readable by name;
    dropping the tag releases them to the next vacuum; erasure
    (delete_rows) drops all tags — a forget request cannot be pinned
    around."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        drop_tag,
        list_tags,
        tag_snapshot,
    )

    path = str(tmp_path / "t")
    publish_overwrite(
        spark, path, _mk(spark, [(1, "a", "v1")]), ["grp"]
    )
    tag_snapshot(path, "training-run-1")  # pins v1
    publish_overwrite(spark, path, _mk(spark, [(1, "a", "v2")]), ["grp"])
    publish_overwrite(spark, path, _mk(spark, [(1, "a", "v3")]), ["grp"])
    got = vacuum_manifests(path, keep_last=1)
    assert 1 in got["kept_versions"]  # pinned past the horizon
    assert [r.v for r in read_table(spark, path, tag="training-run-1").collect()] == ["v1"]
    # v2 (untagged, past horizon) is gone; current still fine
    with pytest.raises(FileNotFoundError):
        read_table(spark, path, version=2)
    assert [r.v for r in read_table(spark, path).collect()] == ["v3"]

    # retargeting and unknown-tag behavior
    tag_snapshot(path, "training-run-1")  # retarget to current (v3)
    assert list_tags(path)["training-run-1"] == 3
    with pytest.raises(ValueError, match="no tag"):
        read_table(spark, path, tag="nope")
    with pytest.raises(ValueError, match="not a retained"):
        tag_snapshot(path, "x", version=99)

    # drop releases the pin
    assert drop_tag(path, "training-run-1") is True
    assert drop_tag(path, "training-run-1") is False
    got = vacuum_manifests(path, keep_last=1)
    assert got["kept_versions"] == [read_manifest(path)["version"]]

    # erasure dominates tags
    tag_snapshot(path, "pinned")
    delete_rows(spark, path, "id = 1", partition_col="grp")
    assert list_tags(path) == {}


def test_engine_sql_tag_as_of_governed(spark, tmp_path):
    """Governed TAG AS OF: engine.sql(..., as_of_tags={table: name})
    resolves the tag to its pinned version with the principal's row
    security applied to the historical rows — the governed read of a
    retention-pinned training corpus."""
    from pyspark.sql import types as T

    from tf_aws_lakeformation_governed_datalake_demo_spark import (
        Engine,
        GovernedCatalog,
        TableDef,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        DataCellsFilter,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        tag_snapshot,
    )

    path = str(tmp_path / "accts")
    publish_overwrite(
        spark,
        path,
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "id long, grp string, bal double"
        ),
        ["grp"],
    )
    tag_snapshot(path, "seed")
    publish_overwrite(
        spark,
        path,
        spark.createDataFrame([(1, "a", 99.0)], "id long, grp string, bal double"),
        ["grp"],
    )
    cat = GovernedCatalog(spark)
    cat.create_database("db")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("bal", T.DoubleType()),
            T.StructField("grp", T.StringType()),
        ]
    )
    cat.register_table(
        TableDef("db", "accts", path, schema=schema, partition_keys=("grp",))
    )
    cat.create_data_cells_filter(
        DataCellsFilter(
            name="a-only",
            database="db",
            table="accts",
            columns=("id", "bal", "grp"),
            row_filter="grp = 'a'",
        )
    )
    cat.grant("reader", "SELECT", "db", "accts", via_filter="a-only")
    eng = Engine(spark, cat)
    cur = eng.sql("SELECT bal FROM db.accts", principal="reader").collect()
    assert [r.bal for r in cur] == [99.0]  # current, filtered
    old = eng.sql(
        "SELECT bal FROM db.accts",
        principal="reader",
        as_of_tags={"db.accts": "seed"},
    ).collect()
    assert [r.bal for r in old] == [10.0]  # tagged snapshot, SAME filter
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no tag"):
        eng.sql(
            "SELECT bal FROM db.accts",
            principal="reader",
            as_of_tags={"db.accts": "nope"},
        )
    with _pytest.raises(ValueError, match="another AS OF"):
        eng.sql(
            "SELECT bal FROM db.accts",
            principal="reader",
            as_of_versions={"db.accts": 1},
            as_of_tags={"db.accts": "seed"},
        )


def test_optimize_binpack_partial_rewrite_and_guards(spark, tmp_path):
    """Bin-packing rewrites ONLY the small-file tail: a big file keeps
    its exact relpath (and inherited stats/sequence number); small
    siblings pack. Tombstoned, renamed and spec-evolved tables pack
    too, reading back the same rows: packed rows leave the deleted
    ones out, packed files keep the physical column names, and packed
    retired-spec files land under the current spec."""
    import pyarrow.parquet as pq

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
        delete_rows_mor,
        evolve_partitioning,
        optimize_binpack,
        publish_overwrite,
        rename_column,
    )

    def mk(rows):
        return spark.createDataFrame(rows, "id long, grp string, v long")

    def rows_of(p):
        return sorted(map(tuple, read_table(spark, p).collect()))

    path = str(tmp_path / "t")
    # one BIG file per partition (above target) + small appended files
    big = mk([(i, "a", i) for i in range(50)]).coalesce(1)
    publish_overwrite(spark, path, big, ["grp"])
    m1 = read_manifest(path)
    big_files = set(m1["files"])
    for k in range(3):
        append_rows(spark, path, mk([(100 + k, "a", k)]), ["grp"])
    out = optimize_binpack(spark, path, target_rows=40)
    # the big file survived by name; the 3 small ones packed into 1
    m2 = read_manifest(path)
    assert big_files <= set(m2["files"])
    assert out["files_rewritten"] == 3
    assert out["files_after"] == len(big_files) + 1
    got = {(r.id, r.v) for r in read_table(spark, path).collect()}
    assert got == {(i, i) for i in range(50)} | {(100 + k, k) for k in range(3)}
    # idempotent: nothing left below target in groups of >= 2
    again = optimize_binpack(spark, path, target_rows=40)
    assert again["version"] is None and again["files_rewritten"] == 0

    # tombstoned: packing every covered file clears the tombstone
    delete_rows_mor(spark, path, "id = 0")
    before = rows_of(path)
    out = optimize_binpack(spark, path)
    assert out["files_rewritten"] == 2 and out["files_after"] == 1
    assert rows_of(path) == before
    assert not read_manifest(path).get("delete_predicates")
    # renamed: grp=a packs, grp=b is carried, the mapping stays
    p2 = str(tmp_path / "t2")
    publish_overwrite(spark, p2, mk([(1, "a", 1), (3, "b", 3)]), ["grp"])
    append_rows(spark, p2, mk([(2, "a", 2)]), ["grp"])
    rename_column(p2, "v", "val")
    before, mapping = rows_of(p2), read_manifest(p2)["column_mapping"]
    assert optimize_binpack(spark, p2)["files_rewritten"] == 2
    m = read_manifest(p2)
    assert m["column_mapping"] == mapping == {"val": "v"}
    for f in m["files"]:
        assert "v" in pq.ParquetFile(f"{p2}/{f}").schema_arrow.names
    assert rows_of(p2) == before
    # spec-evolved: the retired-spec grp=a files pack under the current
    # (unpartitioned) spec, so every live file is on it and it heals
    p3 = str(tmp_path / "t3")
    publish_overwrite(spark, p3, mk([(1, "a", 1)]), ["grp"])
    append_rows(spark, p3, mk([(2, "a", 2)]), ["grp"])
    evolve_partitioning(p3, [])
    append_rows(spark, p3, mk([(3, "b", 3)]).coalesce(1))  # carried
    m_before, before = read_manifest(p3), rows_of(p3)
    assert "partition_specs" in m_before
    assert optimize_binpack(spark, p3)["files_rewritten"] == 2
    m = read_manifest(p3)
    packed = set(m["files"]) - set(m_before["files"])
    assert packed and not any("=" in f for f in packed)
    assert "partition_specs" not in m and m["partition_by"] == []
    assert rows_of(p3) == before


def test_optimize_binpack_caps_files_at_target_rows(spark, tmp_path):
    """A packed partition directory is split into files of at most
    ``target_rows`` rows, not written as one file per directory."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        append_rows,
        optimize_binpack,
    )

    path = str(tmp_path / "t")
    for k in range(4):
        append_rows(
            spark,
            path,
            spark.createDataFrame(
                [(10 * k + i, "a", i) for i in range(10)],
                "id long, grp string, v long",
            ).coalesce(1),
            ["grp"],
        )
    out = optimize_binpack(spark, path, target_rows=25)
    assert out["files_rewritten"] == 4 and out["files_after"] == 2
    assert sorted(read_manifest(path)["file_rows"].values()) == [15, 25]
    assert read_table(spark, path).count() == 40


def test_expire_snapshots_age_horizon_and_union(spark, tmp_path):
    """Age-based retention (round-15): snapshots committed before the
    older_than horizon expire (head always survives); composing a
    count policy with an age policy keeps the UNION — age can only
    widen retention."""
    import time

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        expire_snapshots,
    )

    path = str(tmp_path / "t")
    for i in range(1, 4):
        publish_overwrite(
            spark,
            path,
            _mk(spark, [(1, "a", f"a{i}")]),
            ["grp"],
        )
    # horizon in the far past: nothing is old enough, nothing expires
    out = expire_snapshots(path, older_than=time.time() - 3600)
    assert out["kept_versions"] == [3, 2, 1]
    assert out["manifests_removed"] == 0
    # union: keep_last=1 alone would expire v1+v2, but a generous age
    # horizon keeps them — the composition widens, never narrows
    out = vacuum_manifests(
        path, keep_last=1, older_than=time.time() - 3600
    )
    assert out["kept_versions"] == [3, 2, 1]
    # horizon = now: everything is pre-horizon; only the head survives
    out = expire_snapshots(path, older_than=time.time())
    assert out["kept_versions"] == [3]
    with pytest.raises(FileNotFoundError):
        read_table(spark, path, version=1)
    assert read_table(spark, path).first().v == "a3"


def test_expire_snapshots_honors_tag_and_branch_pins(spark, tmp_path):
    """A tagged snapshot survives ANY age horizon — same pin rule as
    count-based retention; dropping the tag releases it."""
    import time

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        drop_tag,
        expire_snapshots,
        tag_snapshot,
    )

    path = str(tmp_path / "t")
    for i in range(1, 4):
        publish_overwrite(
            spark,
            path,
            _mk(spark, [(1, "a", f"a{i}")]),
            ["grp"],
        )
    tag_snapshot(path, "audit", 1)
    out = expire_snapshots(path, older_than=time.time())
    assert 1 in out["kept_versions"] and 3 in out["kept_versions"]
    assert read_table(spark, path, version=1).first().v == "a1"
    drop_tag(path, "audit")
    out = expire_snapshots(path, older_than=time.time())
    assert out["kept_versions"] == [3]
    with pytest.raises(FileNotFoundError):
        read_table(spark, path, version=1)


def test_expire_snapshots_dry_run_reports_without_removing(spark, tmp_path):
    import time

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        expire_snapshots,
    )

    path = str(tmp_path / "t")
    for i in range(1, 3):
        publish_overwrite(
            spark,
            path,
            _mk(spark, [(1, "a", f"a{i}")]),
            ["grp"],
        )
    dry = expire_snapshots(path, older_than=time.time(), dry_run=True)
    assert dry["manifests_removed"] == 1
    assert read_table(spark, path, version=1).first().v == "a1"
    real = expire_snapshots(path, older_than=time.time())
    assert real["manifests_removed"] == dry["manifests_removed"]
    with pytest.raises(FileNotFoundError):
        read_table(spark, path, version=1)
