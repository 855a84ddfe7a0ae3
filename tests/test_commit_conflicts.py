"""Writer pairs for the lake's one conflict rule: concurrent appends
commute, and a change to the table definition conflicts with every
concurrent write.

Each writer below is raced against a metadata commit that lands while
the writer's batch is staged: the commit section's lock is replaced by
one that first runs the other commit (the racing-lock pattern of
``test_advice_r9.py``). The writer must raise
``ConcurrentLakeModificationError`` before moving a file in, and the
table must keep exactly the state the concurrent commit left — a
schema change that an append silently reverted, or a merged column
that it dropped from the recorded schema, is a lost update.
"""

from __future__ import annotations

import contextlib
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake as lk

DDL = "id int, grp string, v string"
SEED = [(1, "a", "x"), (2, "b", "y")]


def _seed(spark, tmp_path):
    path = str(tmp_path / "t")
    lk.publish_overwrite(spark, path, spark.createDataFrame(SEED, DDL), ["grp"])
    return path


def _batch(spark):
    return spark.createDataFrame([(3, "a", "z")], DDL)


def _landing(spark, tmp_path):
    src = str(tmp_path / "landing")
    _batch(spark).write.partitionBy("grp").parquet(src)
    return src


WRITERS = {
    "append_rows": lambda spark, path, tmp: lk.append_rows(
        spark, path, _batch(spark), ["grp"]
    ),
    "overwrite_partitions": lambda spark, path, tmp: lk.overwrite_partitions(
        spark, path, _batch(spark), ["grp"]
    ),
    "add_files": lambda spark, path, tmp: lk.add_files(
        spark, path, _landing(spark, tmp)
    ),
    # replaces partition 'a' and carries 'b'
    "publish_overwrite": lambda spark, path, tmp: lk.publish_overwrite(
        spark, path, _batch(spark), ["grp"]
    ),
}

CONCURRENT = {
    "widen_column_type": lambda spark, path: lk.widen_column_type(
        path, "id", "long"
    ),
    "merge_into": lambda spark, path: lk.merge_into(
        spark,
        path,
        spark.createDataFrame([(1, "a", "x2", "n1")], DDL + ", note string"),
        ["id"],
        partition_by=["grp"],
        evolve_schema=True,
    ),
    "add_constraint": lambda spark, path: lk.add_constraint(
        spark, path, "id_positive", "id > 0"
    ),
    "rename_column": lambda spark, path: lk.rename_column(path, "v", "val"),
    "evolve_partitioning": lambda spark, path: lk.evolve_partitioning(path, []),
}


@contextlib.contextmanager
def _racing(other):
    """Replace ``publish_lock`` so that its first acquisition — the
    writer's commit section — runs ``other`` (under the real lock)
    just before it."""
    real_lock = lk.publish_lock
    fired = []

    @contextlib.contextmanager
    def racing_lock(live):
        if not fired:
            fired.append(True)
            lk.publish_lock = real_lock
            try:
                other()
            finally:
                lk.publish_lock = racing_lock
        with real_lock(live):
            yield

    lk.publish_lock = racing_lock
    try:
        yield fired
    finally:
        lk.publish_lock = real_lock


def _rows(spark, path):
    return sorted(tuple(r) for r in lk.read_table(spark, path).collect())


@pytest.mark.parametrize("concurrent", list(CONCURRENT))
@pytest.mark.parametrize("writer", list(WRITERS))
def test_write_racing_a_definition_change_conflicts(
    spark, tmp_path, writer, concurrent
):
    path = _seed(spark, tmp_path)
    after = {}

    def other():
        CONCURRENT[concurrent](spark, path)
        after["manifest"] = lk.read_manifest(path)
        after["rows"] = _rows(spark, path)

    with _racing(other) as fired:
        with pytest.raises(lk.ConcurrentLakeModificationError):
            WRITERS[writer](spark, path, tmp_path)
    assert fired
    # the concurrent commit is the table's state, untouched
    assert lk.read_manifest(path) == after["manifest"]
    assert _rows(spark, path) == after["rows"]
    report = lk.verify_table(path)
    assert report["ok"] and not report["orphans"], report
    assert not list(Path(path).glob("_staged_*"))
    types = {f["name"]: f["type"] for f in after["manifest"]["schema"]["fields"]}
    if concurrent == "widen_column_type":
        assert types["id"] == "long"
    if concurrent == "merge_into":
        assert "note" in types
        assert ("n1",) in [
            (r.note,) for r in lk.read_table(spark, path).collect()
        ]


def test_concurrent_appends_commute(spark, tmp_path):
    path = _seed(spark, tmp_path)

    def other():
        lk.append_rows(
            spark, path, spark.createDataFrame([(4, "b", "w")], DDL), ["grp"]
        )

    with _racing(other) as fired:
        snap = lk.append_rows(spark, path, _batch(spark), ["grp"])
    assert fired
    assert snap["version"] == 3 and snap["parent"] == 2
    assert _rows(spark, path) == sorted(
        [*SEED, (3, "a", "z"), (4, "b", "w")]
    )
    assert lk.verify_table(path)["ok"]


def test_conflict_message_names_what_moved(spark, tmp_path):
    path = _seed(spark, tmp_path)
    with _racing(lambda: lk.rename_column(path, "v", "val")):
        with pytest.raises(
            lk.ConcurrentLakeModificationError,
            match="renamed columns and schema",
        ):
            lk.append_rows(spark, path, _batch(spark), ["grp"])
    # a rewrite names the snapshot it lost to
    with pytest.raises(lk.ConcurrentLakeModificationError, match="is at snapshot v2"):
        lk.publish_overwrite(
            spark,
            path,
            _batch(spark).withColumnRenamed("v", "val"),
            ["grp"],
            expected_version=1,
        )
    assert lk.read_table(spark, path).filter(F.col("val") == "x").count() == 1


def test_clone_racing_a_first_write_at_its_target_conflicts(spark, tmp_path):
    """A first write that lands at a clone's target while the clone
    commits wins: the clone raises instead of committing a parentless
    snapshot over it and orphaning the write's files."""
    src = _seed(spark, tmp_path)
    dst = str(tmp_path / "dst")
    after = {}

    def other():
        lk.publish_overwrite(
            spark, dst, spark.createDataFrame([(9, "c", "w")], DDL), ["grp"]
        )
        after["manifest"] = lk.read_manifest(dst)

    with _racing(other) as fired:
        with pytest.raises(lk.ConcurrentLakeModificationError):
            lk.clone_table(src, dst)
    assert fired
    assert lk.read_manifest(dst) == after["manifest"]
    assert _rows(spark, dst) == [(9, "c", "w")]
    report = lk.verify_table(dst)
    assert report["ok"] and not report["orphans"], report
    assert not list(Path(dst).glob("_staged_*"))


def test_retrain_ivf_racing_an_append_conflicts(spark, tmp_path):
    """An append that commits while an IVF retrain is staged wins: the
    retrain replaces every file of the snapshot it read, so it raises
    instead of committing over the append and dropping its vectors."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.operators.similarity import (
        retrain_ivf,
    )

    ddl = "vec_id long, embedding array<double>, label int"
    path = str(tmp_path / "ivf")
    seed = [(i, [1.0, float(i)], i % 2) for i in range(6)]
    lk.publish_overwrite(spark, path, spark.createDataFrame(seed, ddl), ["label"])
    after = {}

    def other():
        lk.append_rows(
            spark, path, spark.createDataFrame([(99, [0.0, 1.0], 0)], ddl), ["label"]
        )
        after["manifest"] = lk.read_manifest(path)

    with _racing(other) as fired:
        with pytest.raises(lk.ConcurrentLakeModificationError):
            retrain_ivf(spark, path)
    assert fired
    assert lk.read_manifest(path) == after["manifest"]
    ids = sorted(r.vec_id for r in lk.read_table(spark, path).collect())
    assert ids == [*range(6), 99]
    report = lk.verify_table(path)
    assert report["ok"] and not report["orphans"], report
    assert not list(Path(path).glob("_staged_*"))
