"""Branch commits + fast-forward publication (round 9): the
multi-commit generalization of write-audit-publish. A branch is a
named commit pointer; append_rows(branch=) chains real snapshots onto
it while main readers stay pinned; fast_forward publishes the whole
chain with one atomic pointer replace. Reference analog: the staging
bucket in validate.sh's upload flow, made transactional and zero-copy."""

from __future__ import annotations

import os
import time
from pathlib import Path

import pytest

from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    ConcurrentLakeModificationError,
    append_rows,
    branch_head,
    create_branch,
    drop_branch,
    fast_forward,
    list_branches,
    publish_overwrite,
    read_manifest,
    read_table,
    vacuum_manifests,
    verify_table,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, grp string, v string")


def _rows(df):
    return sorted((r.id, r.grp, r.v) for r in df.collect())


@pytest.fixture()
def seeded(spark, tmp_path):
    path = str(tmp_path / "t")
    publish_overwrite(
        spark, path, _mk(spark, [(1, "a", "seed"), (2, "b", "seed")]),
        ["grp"],
    )
    return path


def test_branch_commits_invisible_until_fast_forward(spark, seeded):
    path = seeded
    create_branch(path, "etl")
    s1 = append_rows(spark, path, _mk(spark, [(3, "a", "b1")]), ["grp"],
                     branch="etl")
    s2 = append_rows(spark, path, _mk(spark, [(4, "c", "b2")]), ["grp"],
                     branch="etl")
    # main pointer and readers: still the seed
    assert read_manifest(path)["version"] == 1
    assert _rows(read_table(spark, path)) == [
        (1, "a", "seed"), (2, "b", "seed"),
    ]
    # branch head chains the commits
    head = branch_head(path, "etl")
    assert head["version"] == s2["version"]
    assert s2["parent"] == s1["version"] and s1["parent"] == 1
    # branch read = ordinary snapshot read
    assert _rows(read_table(spark, path, version=head["version"])) == [
        (1, "a", "seed"), (2, "b", "seed"), (3, "a", "b1"), (4, "c", "b2"),
    ]
    # one pointer replace publishes the whole chain
    fast_forward(path, "etl")
    assert read_manifest(path)["version"] == s2["version"]
    assert _rows(read_table(spark, path)) == [
        (1, "a", "seed"), (2, "b", "seed"), (3, "a", "b1"), (4, "c", "b2"),
    ]
    # branch commits are now ordinary main history (time travel)
    assert _rows(read_table(spark, path, version=s1["version"])) == [
        (1, "a", "seed"), (2, "b", "seed"), (3, "a", "b1"),
    ]


def test_fast_forward_refuses_divergent_main(spark, seeded):
    path = seeded
    create_branch(path, "etl")
    append_rows(spark, path, _mk(spark, [(3, "a", "b1")]), ["grp"],
                branch="etl")
    # a main commit lands after the fork -> not fast-forwardable
    append_rows(spark, path, _mk(spark, [(9, "b", "main")]), ["grp"])
    with pytest.raises(ConcurrentLakeModificationError, match="ancestor"):
        fast_forward(path, "etl")
    # main unharmed
    assert (9, "b", "main") in _rows(read_table(spark, path))


def test_branch_guards_and_replay_ledger(spark, seeded):
    path = seeded
    create_branch(path, "etl")
    with pytest.raises(KeyError):
        append_rows(spark, path, _mk(spark, [(3, "a", "x")]), ["grp"],
                    branch="nope")
    with pytest.raises(ValueError, match="partition_by"):
        append_rows(spark, path, _mk(spark, [(3, "a", "x")]), [],
                    branch="etl")
    s1 = append_rows(spark, path, _mk(spark, [(3, "a", "x")]), ["grp"],
                     branch="etl", stream_id="s", batch_id=7)
    assert s1 is not None
    # replayed batch is a no-op on the BRANCH ledger
    assert append_rows(spark, path, _mk(spark, [(3, "a", "x")]), ["grp"],
                       branch="etl", stream_id="s", batch_id=7) is None
    # names are single-use
    with pytest.raises(ValueError, match="already exists"):
        create_branch(path, "etl")


def test_vacuum_and_verify_retain_branch_chain(spark, seeded):
    path = seeded
    create_branch(path, "etl")
    s1 = append_rows(spark, path, _mk(spark, [(3, "a", "b1")]), ["grp"],
                     branch="etl")
    s2 = append_rows(spark, path, _mk(spark, [(4, "c", "b2")]), ["grp"],
                     branch="etl")
    # age everything so only retention policy decides
    old = time.time() - 7200
    for p in Path(path).rglob("*"):
        if p.is_file():
            os.utime(p, (old, old))
    out = vacuum_manifests(path, keep_last=1)
    assert {1, s1["version"], s2["version"]} <= set(out["kept_versions"])
    rep = verify_table(path, deep=True)
    assert rep["ok"] and not rep["orphans"]
    assert s1["version"] in rep["snapshots_checked"]
    # the chain still fast-forwards after the vacuum
    fast_forward(path, "etl")
    assert read_table(spark, path).count() == 4
    # dropped branch = unpinned history; only main's head survives
    assert drop_branch(path, "etl")
    assert list_branches(path) == {}


def test_dropped_branch_is_reclaimed(spark, seeded):
    path = seeded
    create_branch(path, "tmp")
    s1 = append_rows(spark, path, _mk(spark, [(3, "a", "b1")]), ["grp"],
                     branch="tmp")
    drop_branch(path, "tmp")
    old = time.time() - 7200
    for p in Path(path).rglob("*"):
        if p.is_file():
            os.utime(p, (old, old))
    out = vacuum_manifests(path, keep_last=1)
    assert out["kept_versions"] == [1]
    with pytest.raises(FileNotFoundError):
        read_manifest(path, s1["version"])
    # the branch's data files are gone too; main is intact
    rep = verify_table(path, deep=True)
    assert rep["ok"] and not rep["orphans"]
    assert read_table(spark, path).count() == 2


def test_engine_sql_branch_as_of_governed(spark, tmp_path):
    """Governed BRANCH AS OF: engine.sql(..., as_of_branches={table:
    name}) resolves a branch head for the audit read of a staged
    ingest — with the auditor's row security applied to the staged
    rows exactly as to published ones."""
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
        spark, path,
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)],
            "id long, grp string, bal double",
        ),
        ["grp"],
    )
    create_branch(path, "staged")
    append_rows(
        spark, path,
        spark.createDataFrame(
            [(3, "a", 30.0), (4, "b", 40.0)],
            "id long, grp string, bal double",
        ),
        ["grp"], branch="staged",
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
            name="a-only", database="db", table="accts",
            columns=("id", "bal", "grp"), row_filter="grp = 'a'",
        )
    )
    cat.grant("auditor", "SELECT", "db", "accts", via_filter="a-only")
    eng = Engine(spark, cat)
    cur = eng.sql("SELECT bal FROM db.accts", principal="auditor").collect()
    assert sorted(r.bal for r in cur) == [10.0]  # published rows only
    staged = eng.sql(
        "SELECT bal FROM db.accts",
        principal="auditor",
        as_of_branches={"db.accts": "staged"},
    ).collect()
    assert sorted(r.bal for r in staged) == [10.0, 30.0]  # SAME filter
    with pytest.raises(KeyError):
        eng.sql(
            "SELECT bal FROM db.accts",
            principal="auditor",
            as_of_branches={"db.accts": "nope"},
        )
    with pytest.raises(ValueError, match="another AS OF"):
        eng.sql(
            "SELECT bal FROM db.accts",
            principal="auditor",
            as_of_versions={"db.accts": 1},
            as_of_branches={"db.accts": "staged"},
        )


def test_erasure_dominates_staged_branches(spark, tmp_path):
    """GDPR erasure (delete_rows: history truncation + drop_tags) must
    also destroy STAGED branch state: a branch whose unpublished
    commits contain matched rows cannot remain readable, or 'no reader
    can observe a matched row' would fail for branch_head readers."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        delete_rows,
    )

    path = str(tmp_path / "t")
    publish_overwrite(
        spark, path, _mk(spark, [(1, "a", "keep"), (2, "b", "erase-me")]),
        ["grp"],
    )
    create_branch(path, "staged")
    snap = append_rows(
        spark, path, _mk(spark, [(3, "b", "erase-me-too")]), ["grp"],
        branch="staged",
    )
    head_v, head_files = snap["version"], snap["files"]
    delete_rows(spark, path, "v LIKE 'erase%'", partition_col="grp")
    # current read is clean
    assert _rows(read_table(spark, path)) == [(1, "a", "keep")]
    # the branch pointer is gone — erasure cannot be pinned around
    assert list_branches(path) == {}
    # the staged snapshot is unreachable and its matched-row files gone
    with pytest.raises(FileNotFoundError):
        read_manifest(path, head_v)
    live_files = set(read_manifest(path)["files"])
    for rel in head_files:
        if rel not in live_files:
            assert not Path(path, rel).exists(), rel


def test_two_branches_first_publish_wins(spark, seeded):
    """Independent branches chain independently; publication is
    first-wins: the second fast-forward sees main advanced past its
    fork and must refuse (re-branch and replay, commit_publish's
    contract)."""
    path = seeded
    create_branch(path, "b1")
    create_branch(path, "b2")
    append_rows(spark, path, _mk(spark, [(3, "a", "b1")]), ["grp"],
                branch="b1")
    append_rows(spark, path, _mk(spark, [(4, "a", "b2")]), ["grp"],
                branch="b2")
    # interleaved version numbers, independent parents
    h1, h2 = branch_head(path, "b1"), branch_head(path, "b2")
    assert h1["parent"] == 1 and h2["parent"] == 1
    assert h1["version"] != h2["version"]
    fast_forward(path, "b1")
    assert (3, "a", "b1") in _rows(read_table(spark, path))
    with pytest.raises(ConcurrentLakeModificationError, match="ancestor"):
        fast_forward(path, "b2")
    # b2's staged rows never became visible
    assert (4, "a", "b2") not in _rows(read_table(spark, path))


def test_branch_commit_crash_between_snapshot_and_pointer(spark, seeded):
    """A crash after the snapshot file lands but before the branch
    sidecar advances must leave an ORPHAN snapshot: the branch head is
    unchanged, readers see nothing, the next branch commit simply
    skips past the orphan's version number, and vacuum reclaims it."""
    import os
    import time

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        lake as lk,
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        vacuum_manifests,
    )

    path = seeded
    create_branch(path, "etl")
    real = lk._write_branches
    calls = {"n": 0}

    def crashing(live, branches):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("injected crash before the sidecar advance")
        return real(live, branches)

    lk._write_branches = crashing
    try:
        with pytest.raises(OSError, match="injected"):
            append_rows(spark, path, _mk(spark, [(3, "a", "x")]), ["grp"],
                        branch="etl")
    finally:
        lk._write_branches = real
    # branch head unchanged; main untouched; the orphan is invisible
    assert branch_head(path, "etl")["version"] == 1
    assert read_manifest(path)["version"] == 1
    assert read_table(spark, path).count() == 2
    # the next commit skips past the orphan's version
    s2 = append_rows(spark, path, _mk(spark, [(4, "a", "y")]), ["grp"],
                     branch="etl")
    assert s2["version"] > 2 and s2["parent"] == 1
    assert read_table(spark, path, version=s2["version"]).count() == 3
    # aged orphan data is reclaimed; the live chain is intact
    old = time.time() - 7200
    for p in Path(path).rglob("*"):
        if p.is_file():
            os.utime(p, (old, old))
    vacuum_manifests(path, keep_last=1)
    rep = verify_table(path, deep=True)
    assert rep["ok"] and not rep["orphans"]
    fast_forward(path, "etl")
    assert read_table(spark, path).count() == 3


def test_read_table_branch_kwarg(spark, seeded):
    path = seeded
    create_branch(path, "etl")
    append_rows(spark, path, _mk(spark, [(3, "c", "b1")]), ["grp"],
                branch="etl")
    got = _rows(read_table(spark, path, branch="etl"))
    assert (3, "c", "b1") in got and len(got) == 3
    assert read_table(spark, path).count() == 2  # main pinned
    with pytest.raises(KeyError):
        read_table(spark, path, branch="nope")
    with pytest.raises(ValueError, match="alone"):
        read_table(spark, path, branch="etl", version=1)
