"""``read_table`` keeps built scans per snapshot: an unchanged table
hands the same scan out again, while a commit, a time-travel version, a
rename or another session each get a scan of their own. The engine's
result-reuse fingerprint keys manifest tables on the same snapshot."""

from __future__ import annotations

import os

import pytest

from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
    GovernedCatalog,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.engine import Engine
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    append_rows,
    read_table,
    rename_column,
)

ADMIN = "ops"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


@pytest.fixture()
def path(spark, tmp_path):
    p = str(tmp_path / "t")
    append_rows(spark, p, _batch(spark, [(1, "a"), (2, "b")]))
    return p


def test_unchanged_snapshot_reuses_the_scan_and_a_commit_is_seen(spark, path):
    first = read_table(spark, path)
    assert read_table(spark, path) is first
    assert _rows(first) == [(1, "a"), (2, "b")]
    append_rows(spark, path, _batch(spark, [(3, "c")]))
    second = read_table(spark, path)
    assert second is not first
    assert _rows(second) == [(1, "a"), (2, "b"), (3, "c")]
    # the old snapshot is still exactly what time travel returns
    assert _rows(read_table(spark, path, version=1)) == [(1, "a"), (2, "b")]


def test_time_travel_after_a_commit_returns_the_old_rows(spark, tmp_path):
    cat = GovernedCatalog(spark, lake_root=str(tmp_path))
    cat.set_admins([ADMIN])
    eng = Engine(spark, cat)
    eng.sql("CREATE DATABASE db", ADMIN)
    eng.sql(
        f"CREATE EXTERNAL TABLE db.t (id bigint, v string) "
        f"LOCATION '{tmp_path}/t'",
        ADMIN,
    )
    eng.sql("INSERT INTO db.t VALUES (1, 'a')", ADMIN)
    q = "SELECT id, v FROM db.t"
    assert _rows(eng.sql(q, ADMIN)) == [(1, "a")]
    eng.sql("INSERT INTO db.t VALUES (2, 'b')", ADMIN)
    assert _rows(eng.sql(q, ADMIN)) == [(1, "a"), (2, "b")]
    old = "SELECT id, v FROM db.t FOR VERSION AS OF 1"
    assert _rows(eng.sql(old, ADMIN)) == [(1, "a")]
    assert _rows(eng.sql(q, ADMIN, as_of_versions={"db.t": 1})) == [(1, "a")]


def test_rename_reads_the_new_names(spark, path):
    before = read_table(spark, path)
    assert before.columns == ["id", "v"]
    rename_column(path, "v", "label")
    after = read_table(spark, path)
    assert after.columns == ["id", "label"]
    assert _rows(after) == [(1, "a"), (2, "b")]
    # a declared-schema read of the pre-rename version speaks the
    # current names through the live mapping, not the cached scan
    schema = after.schema
    old = read_table(spark, path, schema=schema, version=1)
    assert old.columns == ["id", "label"] and _rows(old) == _rows(after)


def test_another_session_never_gets_this_sessions_scan(spark, path):
    mine = read_table(spark, path)
    other = spark.newSession()
    theirs = read_table(other, path)
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert read_table(spark, path) is mine
    assert _rows(theirs) == _rows(mine)


def test_cache_stays_at_its_bound(spark, path, monkeypatch):
    monkeypatch.setattr(lake, "SCAN_CACHE_SIZE", 3)
    for i in range(3, 9):
        append_rows(spark, path, _batch(spark, [(i, "x")]))
        read_table(spark, path)
        read_table(spark, path, version=1)
        assert len(lake._scan_cache) <= 3
    # the newest entry survived the evictions
    assert read_table(spark, path) is read_table(spark, path)


def test_reuse_fingerprint_is_the_snapshot_and_a_commit_invalidates_it(
    spark, tmp_path, monkeypatch
):
    cat = GovernedCatalog(spark, lake_root=str(tmp_path))
    cat.set_admins([ADMIN])
    eng = Engine(spark, cat)
    eng.sql("CREATE DATABASE db", ADMIN)
    eng.sql(
        f"CREATE EXTERNAL TABLE db.t (id bigint) LOCATION '{tmp_path}/t'",
        ADMIN,
    )
    eng.sql("INSERT INTO db.t VALUES (1)", ADMIN)

    def no_walk(*_a, **_k):
        raise AssertionError("a manifest table's fingerprint walked its files")

    monkeypatch.setattr(os, "walk", no_walk)
    snap = lake.read_manifest(f"{tmp_path}/t")
    assert eng._table_fingerprint("db.t") == (
        "db.t", snap["version"], snap["txid"],
    )
    q = "SELECT id FROM db.t"
    first = eng._execute(q, ADMIN, reuse_max_age=300)
    hit = eng._execute(q, ADMIN, reuse_max_age=300)
    assert hit.reused_from == first.query_id
    eng.sql("INSERT INTO db.t VALUES (2)", ADMIN)
    after = eng._execute(q, ADMIN, reuse_max_age=300)
    assert after.reused_from is None
    assert sorted(r.id for r in after.result.collect()) == [1, 2]


def test_concurrent_reads_keep_the_cache_bounded(spark, tmp_path, monkeypatch):
    """More reader threads than cores, over more snapshots than the
    bound, with a short switch interval: every read gets its own
    snapshot's scan and the cache never outgrows its bound."""
    import sys
    import threading

    monkeypatch.setattr(lake, "SCAN_CACHE_SIZE", 2)
    paths = []
    for i in range(3):
        p = str(tmp_path / f"t{i}")
        append_rows(spark, p, _batch(spark, [(i, "x")]))
        paths.append(p)
    errors = []

    def reader(k):
        try:
            for j in range(12):
                p = paths[(k + j) % len(paths)]
                df = read_table(spark, p)
                files = df.inputFiles()
                if not files or not all(f"{p}/" in f for f in files):
                    errors.append((p, files))
                if len(lake._scan_cache) > 2:
                    errors.append(len(lake._scan_cache))
        except Exception as exc:  # surfaced through the assertion below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(lake._scan_cache) <= 2
    assert sorted(
        tuple(r) for p in paths for r in read_table(spark, p).collect()
    ) == [(0, "x"), (1, "x"), (2, "x")]
