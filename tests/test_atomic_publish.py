"""Atomic publication for lake mutations.

The reference's lake inherits S3's atomic object PUT + versioning
(main.tf:25-30): readers never see torn state. Every lake write commits
through the manifest: adopt a plain directory as snapshot v1, stage the
result, move the staged files in, then replace the ``_manifest.json``
pointer. These tests inject crashes at the two points where a write can
die with work on disk:

- during the staged WRITE (the expensive Spark job): nothing has moved
  into the live tree yet;
- after the move-in, before the pointer replace: new files sit in the
  live tree but no snapshot references them;

over every rewrite-shaped mutator plus append, dynamic partition
overwrite and write-audit-publish (which share the same
stage-and-commit path), each starting from a plain (never written)
directory, and prove readers see exactly the pre-state, the table
verifies clean, the leftovers are reclaimable, and a re-run converges.
A clone that dies after its move-in is checked the same way.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from tf_aws_lakeformation_governed_datalake_demo_spark.session import (
    local_frame,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    load,
    write_partitioned,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake as lk

COLS = ("n_nationkey", "n_name", "n_regionkey", "note")


def _snapshot(path: str) -> dict[str, bytes]:
    """Relative path -> content for every data file under ``path``,
    skipping staging directories."""
    root = Path(path)
    out = {}
    for p in root.rglob("*.parquet"):
        rel = p.relative_to(root)
        if any(part.startswith("_staged_") for part in rel.parts):
            continue
        out[str(rel)] = p.read_bytes()
    return out


def _rows(spark, path) -> list[tuple]:
    return sorted(
        tuple(r[c] for c in COLS) for r in lk.read_table(spark, path).collect()
    )


@pytest.fixture()
def nation_table(spark, sf_dir):
    """A small partitioned plain directory: nation partitioned by region
    key, written without any manifest."""
    path = tempfile.mkdtemp(prefix="atomic_pub_") + "/nation"
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).withColumn("note", F.lit("v1"))
    write_partitioned(n, path, partition_by=["n_regionkey"])
    return path, n


def _boom_frame(df):
    """A result frame whose evaluation fails partway through the write
    job (a row-conditional failing UDF) — the crash injector."""

    @F.udf("string")
    def boom(name):
        if name >= "M":  # fails on a subset, after some rows succeed
            raise ValueError("injected crash during staged write")
        return name

    return df.withColumn("n_name", boom("n_name"))


def test_crash_during_staged_write_leaves_table_untouched(spark, nation_table):
    path, n = nation_table
    before = _snapshot(path)
    rows = _rows(spark, path)
    with pytest.raises(Exception):
        lk.publish_overwrite(
            spark, path, _boom_frame(n), partition_by=["n_regionkey"]
        )
    assert _snapshot(path) == before  # byte-identical, every partition
    # reader still sees the old, complete state
    assert _rows(spark, path) == rows
    # leftover staging is invisible but reclaimable
    removed = lk.vacuum_publish_artifacts(path)
    assert any("_staged_" in r for r in removed)
    assert _snapshot(path) == before


def test_crash_during_staged_write_unpartitioned(spark, nation_table):
    path_p, n = nation_table
    path = tempfile.mkdtemp(prefix="atomic_unpart_") + "/nation"
    n.write.parquet(path)
    before = _snapshot(path)
    with pytest.raises(Exception):
        lk.publish_overwrite(spark, path, _boom_frame(n))
    assert _snapshot(path) == before
    lk.vacuum_publish_artifacts(path)
    assert _snapshot(path) == before
    # staging always lives inside the table directory
    assert not list(Path(path).parent.glob("nation.__*"))


def _expected(rows, op):
    if op in ("publish_overwrite", "begin_publish"):
        return sorted((k, nm, r, "v2") for k, nm, r, _ in rows)
    if op == "append_rows":
        return sorted([*rows, *((k, nm, r, "new") for k, nm, r, _ in rows if r == 2)])
    if op in ("update_rows", "overwrite_partitions"):
        return sorted((k, nm, r, "v2" if r == 2 else v) for k, nm, r, v in rows)
    if op == "delete_rows":
        return sorted(t for t in rows if t[0] % 2)
    return sorted((k, nm, r, "merged" if r == 2 else v) for k, nm, r, v in rows)


def _run(spark, path, n, op):
    if op == "publish_overwrite":
        lk.publish_overwrite(
            spark, path, n.withColumn("note", F.lit("v2")), ["n_regionkey"]
        )
    elif op == "begin_publish":
        cand = lk.begin_publish(
            spark, path, n.withColumn("note", F.lit("v2")), ["n_regionkey"]
        )
        lk.commit_publish(path, cand)
    elif op == "update_rows":
        lk.update_rows(
            spark, path, {"note": "'v2'"}, "n_regionkey = 2",
            partition_col="n_regionkey",
        )
    elif op == "delete_rows":
        lk.delete_rows(
            spark, path, "n_nationkey % 2 = 0", partition_col="n_regionkey"
        )
    elif op in ("append_rows", "overwrite_partitions"):
        # a batch read from the table itself carries its recorded types
        region2 = lk.read_table(spark, path).filter(F.col("n_regionkey") == 2)
        if op == "append_rows":
            lk.append_rows(
                spark, path, region2.withColumn("note", F.lit("new")),
                ["n_regionkey"],
            )
        else:
            lk.overwrite_partitions(
                spark, path, region2.withColumn("note", F.lit("v2")),
                ["n_regionkey"],
            )
    else:
        upd = n.filter(F.col("n_regionkey") == 2).withColumn(
            "note", F.lit("merged")
        )
        lk.merge_into(
            spark, path, upd, ["n_nationkey"], partition_by=["n_regionkey"]
        )


OPS = (
    "publish_overwrite",
    "update_rows",
    "delete_rows",
    "merge_into",
    "append_rows",
    "overwrite_partitions",
    "begin_publish",
)


@pytest.mark.parametrize("crash_at", ["staged_write", "after_move_in"])
@pytest.mark.parametrize("op", OPS)
def test_crash_matrix_on_adopted_directory(
    spark, nation_table, monkeypatch, op, crash_at
):
    path, n = nation_table
    rows = _rows(spark, path)  # schema-on-read: no manifest yet
    assert lk.read_manifest(path) is None
    if crash_at == "staged_write":
        real_parquet = DataFrameWriter.parquet

        def crashing_parquet(self, p, *a, **k):
            real_parquet(self, p, *a, **k)
            if "_staged_" in str(p):
                raise RuntimeError("injected crash during the staged write")

        monkeypatch.setattr(DataFrameWriter, "parquet", crashing_parquet)
    else:
        real_move = lk._move_staged_in

        def crashing_move(*a, **k):
            real_move(*a, **k)
            raise RuntimeError("injected crash before the pointer replace")

        monkeypatch.setattr(lk, "_move_staged_in", crashing_move)
    with pytest.raises(RuntimeError, match="injected crash"):
        _run(spark, path, n, op)
    monkeypatch.undo()

    # the write adopted the directory, then died: readers see exactly
    # the pre-state through the adopted snapshot
    m = lk.read_manifest(path)
    assert m is not None and m["version"] == 1
    assert not lk.list_branches(path)  # no write-audit-publish leftover
    assert _rows(spark, path) == rows
    report = lk.verify_table(path)
    assert report["ok"], report
    if crash_at == "after_move_in":
        assert report["orphans"]  # moved in, never committed
    # the leftovers are reclaimable and reclaiming them changes nothing
    lk.vacuum_publish_artifacts(path)
    lk.vacuum_manifests(path, keep_last=1)
    assert not list(Path(path).glob("_staged_*"))
    report = lk.verify_table(path)
    assert report["ok"] and not report["orphans"], report
    assert _rows(spark, path) == rows

    # a re-run converges to the intended result
    _run(spark, path, n, op)
    assert _rows(spark, path) == _expected(rows, op)
    assert lk.verify_table(path)["ok"]


def test_clone_crash_after_move_in(spark, nation_table, monkeypatch):
    """A clone that dies after linking its files into the target, before
    the pointer replace: the source is untouched, the target is an
    empty table, a re-run into it refuses, and once the target is
    reclaimed the re-run converges."""
    import shutil

    path, n = nation_table
    lk.adopt_table(path)
    rows = _rows(spark, path)
    dst = str(Path(path).parent / "clone")
    real_move = lk._move_staged_in

    def crashing_move(*a, **k):
        real_move(*a, **k)
        raise RuntimeError("injected crash before the pointer replace")

    monkeypatch.setattr(lk, "_move_staged_in", crashing_move)
    with pytest.raises(RuntimeError, match="injected crash"):
        lk.clone_table(path, dst)
    monkeypatch.undo()

    assert lk.read_manifest(path)["version"] == 1
    assert _rows(spark, path) == rows
    report = lk.verify_table(path)
    assert report["ok"] and not report["orphans"], report
    # the first commit claimed the target with an empty snapshot before
    # linking files in: it reads as an empty table, never as the links
    claim = lk.read_manifest(dst)
    assert claim["version"] == 0 and claim["files"] == []
    assert lk.read_table(spark, dst).count() == 0
    assert not list(Path(dst).glob("_staged_*"))
    with pytest.raises(FileExistsError, match="already holds"):
        lk.clone_table(path, dst)
    shutil.rmtree(dst)
    lk.clone_table(path, dst)
    assert _rows(spark, dst) == rows
    assert lk.verify_table(dst)["ok"]


def test_first_commit_crash_leaves_an_empty_table(spark, monkeypatch):
    """A first write to a never-written path that dies after its move-in,
    before any snapshot is written: the path already holds an empty
    version-0 snapshot, so readers see no rows, the moved-in files are
    reclaimable orphans, and the next writer commits exactly its own
    rows instead of adopting the crashed write's files."""
    path = tempfile.mkdtemp(prefix="atomic_pub_") + "/first"
    schema = "id long, g string"

    def crashing_commit(*a, **k):
        raise RuntimeError("injected crash before the snapshot write")

    monkeypatch.setattr(lk, "_commit_manifest", crashing_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        lk.publish_overwrite(
            spark, path, local_frame(spark, [(1, "a"), (2, "b")], schema), ["g"]
        )
    monkeypatch.undo()

    assert lk.read_table(spark, path).count() == 0
    report = lk.verify_table(path)
    assert report["ok"] and len(report["orphans"]) == 2, report
    snap = lk.append_rows(
        spark, path, local_frame(spark, [(3, "a"), (4, "c")], schema), ["g"]
    )
    assert snap["version"] == 1
    got = sorted((r.id, r.g) for r in lk.read_table(spark, path).collect())
    assert got == [(3, "a"), (4, "c")]
    lk.vacuum_manifests(path, keep_last=1)
    report = lk.verify_table(path)
    assert report["ok"] and not report["orphans"], report


def test_merge_crash_then_rerun_converges(spark, nation_table):
    path, n = nation_table
    before = _snapshot(path)
    upd = (
        n.filter(F.col("n_regionkey") == 2)
        .withColumn("note", F.lit("merged"))
    )
    # crash inside the staged write of a real merge
    with pytest.raises(Exception):
        lk.merge_into(
            spark, path, _boom_frame(upd), ["n_nationkey"],
            partition_by=["n_regionkey"],
        )
    assert _snapshot(path) == before
    # re-run with the intact batch: converges, untouched partitions
    # byte-identical
    stats = lk.merge_into(
        spark, path, upd, ["n_nationkey"], partition_by=["n_regionkey"]
    )
    assert stats["partitions_rewritten"] == 1
    after = _snapshot(path)
    untouched_before = {k: v for k, v in before.items() if "n_regionkey=2" not in k}
    untouched_after = {k: v for k, v in after.items() if "n_regionkey=2" not in k}
    assert untouched_before == untouched_after
    got = lk.read_table(spark, path).filter(F.col("note") == "merged").count()
    assert got == upd.count()


def test_publish_drops_partitions_emptied_by_deletion(spark, nation_table):
    """A touched partition whose rewrite has ZERO rows must be REMOVED
    (deletion semantics), not silently kept — pinned directly on
    publish_overwrite's drop_missing_partitions contract."""
    path, n = nation_table
    # "delete" region 2 entirely: result has no rows for that partition
    survivors = n.filter(F.col("n_regionkey") != 2)
    lk.publish_overwrite(
        spark,
        path,
        survivors,
        partition_by=["n_regionkey"],
        drop_missing_partitions=["n_regionkey=2"],
    )
    back = lk.read_table(spark, path)
    assert back.filter(F.col("n_regionkey") == 2).count() == 0
    assert back.count() == survivors.count()
    assert not any(
        f.startswith("n_regionkey=2/") for f in lk.read_manifest(path)["files"]
    )
    # the dropped partition's files leave the disk with its history
    lk.vacuum_manifests(path, keep_last=1)
    assert not list((Path(path) / "n_regionkey=2").glob("*.parquet"))


def test_concurrent_publishes_never_interleave_partitions(spark, nation_table):
    """Two concurrent full-table publishes: the commit lock makes the
    final state exactly ONE writer's complete result — never a
    partition mix of the two."""
    import threading

    path, n = nation_table
    results = {
        "A": n.withColumn("note", F.lit("writerA")),
        "B": n.withColumn("note", F.lit("writerB")),
    }
    errs = []

    def run(tag):
        try:
            lk.publish_overwrite(
                spark, path, results[tag], partition_by=["n_regionkey"]
            )
        except Exception as ex:  # pragma: no cover - surfaced below
            errs.append((tag, ex))

    threads = [threading.Thread(target=run, args=(t,)) for t in ("A", "B")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    back = lk.read_table(spark, path)
    notes = {r.note for r in back.select("note").collect()}
    assert notes in ({"writerA"}, {"writerB"})  # one whole result, no mix
    assert back.count() == n.count()
