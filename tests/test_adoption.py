"""One commit protocol: every lake writer adopts a plain Parquet
directory as its first manifest snapshot (the lake's CONVERT TO DELTA)
instead of refusing it, and Hive partition paths are escaped exactly as
Spark writes them.

Each writer runs on a plain directory that already holds data. It must
leave a ``_manifest.json`` whose v1 file list equals the directory's
visible data files, and its result must equal the same operation
computed in plain Python.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from tf_aws_lakeformation_governed_datalake_demo_spark import (
    Engine,
    GovernedCatalog,
    TableDef,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake as lk

BASE = [(1, 10, "a"), (2, 20, "a"), (3, 30, "b"), (4, 40, "b")]
DDL = "id long, v int, grp string"


def _plain_dir(spark, tmp_path) -> tuple[str, list[str]]:
    """A hive-partitioned plain directory; returns (path, the files
    adoption must record)."""
    path = str(tmp_path / "t")
    spark.createDataFrame(BASE, DDL).write.partitionBy("grp").parquet(path)
    return path, lk._data_file_relpaths(Path(path))


def _rows(spark, path, cols=("id", "v", "grp")) -> list[tuple]:
    return sorted(
        tuple(r[c] for c in cols) for r in lk.read_table(spark, path).collect()
    )


def _engine(spark, tmp_path, path):
    cat = GovernedCatalog(spark, lake_root=str(tmp_path))
    cat.create_database("db")
    cat.set_admins(["ops"])
    schema = spark.createDataFrame([], DDL).schema
    cat.register_table(
        TableDef("db", "t", path, schema=schema, partition_keys=("grp",))
    )
    return Engine(spark, cat)


def _landing(spark, tmp_path) -> str:
    src = str(tmp_path / "landing")
    spark.createDataFrame([(5, 50, "c")], DDL).write.partitionBy(
        "grp"
    ).parquet(src)
    return src


def _batch(spark, rows):
    return spark.createDataFrame(rows, DDL)


def _wap(spark, path, tmp_path):
    cand = lk.begin_publish(spark, path, _batch(spark, [(9, 90, "a")]), ["grp"])
    lk.commit_publish(path, cand)


def _drop_constraint(spark, path, tmp_path):
    with pytest.raises(KeyError, match="no constraint"):
        lk.drop_constraint(path, "nope")


WRITERS = {
    "append_rows": (
        lambda s, p, t: lk.append_rows(s, p, _batch(s, [(5, 50, "c")]), ["grp"]),
        lambda rows: sorted([*rows, (5, 50, "c")]),
    ),
    "overwrite_partitions": (
        lambda s, p, t: lk.overwrite_partitions(
            s, p, _batch(s, [(9, 90, "a")]), ["grp"]
        ),
        lambda rows: sorted([(9, 90, "a"), *[r for r in rows if r[2] != "a"]]),
    ),
    "add_files": (
        lambda s, p, t: lk.add_files(s, p, _landing(s, t)),
        lambda rows: sorted([*rows, (5, 50, "c")]),
    ),
    "rename_column": (
        lambda s, p, t: lk.rename_column(p, "v", "w"),
        None,  # checked under the new name below
    ),
    "truncate_table": (
        lambda s, p, t: lk.truncate_table(p, s),
        lambda rows: [],
    ),
    "widen_column_type": (
        lambda s, p, t: lk.widen_column_type(p, "v", "long"),
        lambda rows: rows,
    ),
    "evolve_partitioning": (
        lambda s, p, t: lk.evolve_partitioning(p, None),
        lambda rows: rows,
    ),
    "add_constraint": (
        lambda s, p, t: lk.add_constraint(s, p, "pos", "v > 0"),
        lambda rows: rows,
    ),
    "drop_constraint": (_drop_constraint, lambda rows: rows),
    "begin_publish": (
        _wap,
        lambda rows: sorted([(9, 90, "a"), *[r for r in rows if r[2] != "a"]]),
    ),
    "delete_rows_mor": (
        lambda s, p, t: lk.delete_rows_mor(s, p, "id = 1"),
        lambda rows: [r for r in rows if r[0] != 1],
    ),
    "optimize_binpack": (
        lambda s, p, t: lk.optimize_binpack(s, p),
        lambda rows: rows,
    ),
    "sql_insert_into": (
        lambda s, p, t: _engine(s, t, p).sql(
            "INSERT INTO db.t VALUES (5, 50, 'c')", "ops"
        ),
        lambda rows: sorted([*rows, (5, 50, "c")]),
    ),
    "sql_insert_overwrite": (
        lambda s, p, t: _engine(s, t, p).sql(
            "INSERT OVERWRITE db.t SELECT 9, 90, 'a'", "ops"
        ),
        lambda rows: sorted([(9, 90, "a"), *[r for r in rows if r[2] != "a"]]),
    ),
    "sql_drop_partition": (
        lambda s, p, t: _engine(s, t, p).sql(
            "ALTER TABLE db.t DROP PARTITION (grp = 'b')", "ops"
        ),
        lambda rows: [r for r in rows if r[2] != "b"],
    ),
}


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_writer_adopts_plain_directory(spark, tmp_path, writer):
    path, visible = _plain_dir(spark, tmp_path)
    run, expect = WRITERS[writer]
    run(spark, path, tmp_path)
    assert (Path(path) / "_manifest.json").exists()
    v1 = lk.read_manifest(path, 1)
    assert v1["files"] == visible
    assert v1["partition_by"] == ["grp"]
    if writer == "rename_column":
        assert _rows(spark, path, ("id", "w", "grp")) == sorted(BASE)
    else:
        assert _rows(spark, path) == expect(sorted(BASE))


def test_adoption_is_idempotent_and_refuses_mixed_layouts(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(BASE, DDL).write.partitionBy("grp").parquet(path)
    m = lk.adopt_table(path)
    assert m["version"] == 1 and m["partition_by"] == ["grp"]
    assert lk.adopt_table(path)["version"] == 1  # no second snapshot
    assert lk.adopt_table(str(tmp_path / "missing")) is None

    mixed = str(tmp_path / "mixed")
    spark.createDataFrame(BASE, DDL).write.partitionBy("grp").parquet(mixed)
    spark.createDataFrame(BASE, DDL).write.mode("append").parquet(mixed)
    with pytest.raises(ValueError, match="mixed partition layouts"):
        lk.adopt_table(mixed)
    other = str(tmp_path / "t2")
    spark.createDataFrame(BASE, DDL).write.partitionBy("grp").parquet(other)
    with pytest.raises(ValueError, match="laid out under"):
        lk.adopt_table(other, ["id"])


def test_written_table_ignores_out_of_band_files(spark, tmp_path):
    """Once written, a table is transactional: files landed in its
    directory out of band are not table data; ADD FILES imports."""
    path = str(tmp_path / "t")
    spark.createDataFrame(BASE, DDL).write.partitionBy("grp").parquet(path)
    lk.append_rows(spark, path, _batch(spark, [(5, 50, "c")]), ["grp"])
    spark.createDataFrame([(6, 60, "d")], DDL).write.mode(
        "append"
    ).partitionBy("grp").parquet(path)
    assert _rows(spark, path) == sorted([*BASE, (5, 50, "c")])
    lk.add_files(spark, path, _landing(spark, tmp_path))
    assert _rows(spark, path) == sorted([*BASE, (5, 50, "c"), (5, 50, "c")])


def test_concurrent_rewrite_of_former_plain_directory_conflicts(
    spark, tmp_path, monkeypatch
):
    """A former plain directory now has a base version, so a rewrite
    computed against it loses to a commit that landed meanwhile —
    ConcurrentLakeModificationError, not last-writer-wins."""
    path = str(tmp_path / "t")
    spark.createDataFrame(BASE, DDL).write.partitionBy("grp").parquet(path)
    real = lk._publish_manifest_commit

    def racing(*a, **k):
        # another writer commits between this rewrite's read and commit
        monkeypatch.setattr(lk, "_publish_manifest_commit", real)
        lk.append_rows(spark, path, _batch(spark, [(7, 70, "a")]), ["grp"])
        return real(*a, **k)

    monkeypatch.setattr(lk, "_publish_manifest_commit", racing)
    with pytest.raises(lk.ConcurrentLakeModificationError):
        lk.update_rows(
            spark, path, {"v": "v + 1"}, "grp = 'a'", partition_col="grp"
        )
    assert _rows(spark, path) == sorted([*BASE, (7, 70, "a")])


# Values whose directory names Spark escapes (or, for the space, does
# not): the encodings hive_partition_relpath must reproduce.
ESCAPED = ["4-NOT SPECIFIED", "a%b", "a:b", "a=b", "a/b", "a#b", "a{b"]


@pytest.mark.parametrize("value", ESCAPED)
def test_hive_partition_relpath_matches_spark_and_delete_empties_it(
    spark, tmp_path, value
):
    path = str(tmp_path / "t")
    rows = [(1, value), (2, value), (3, "plain")]
    df = spark.createDataFrame(rows, "id long, p string")
    df.write.partitionBy("p").parquet(path)
    on_disk = sorted(
        d.name for d in Path(path).iterdir() if d.is_dir() and "=" in d.name
    )
    rel = lk.hive_partition_relpath(["p"], (value,))
    assert rel in on_disk
    assert sorted(on_disk) == sorted([rel, "p=plain"])

    cat = GovernedCatalog(spark, lake_root=str(tmp_path))
    cat.create_database("db")
    cat.set_admins(["ops"])
    cat.register_table(
        TableDef("db", "t", path, schema=df.schema, partition_keys=("p",))
    )
    eng = Engine(spark, cat)
    eng.sql(
        "DELETE FROM db.t WHERE p = '" + value.replace("'", "''") + "'", "ops"
    )
    left = sorted(
        (r.id, r.p) for r in eng.sql("SELECT id, p FROM db.t", "ops").collect()
    )
    assert left == [(3, "plain")]
    assert not any(
        f.startswith(rel + "/") for f in lk.read_manifest(path)["files"]
    )
    assert lk.verify_table(path)["ok"]
