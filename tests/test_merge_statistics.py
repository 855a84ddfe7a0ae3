"""MERGE statistics come from the work the merge runs anyway: an
observation on the USING batch's pin counts its rows and collects its
partition tuples, and two observations on the staged write count the
restricted old rows and the rows no update key matched. These tests
hold the observed counts to the definitions they replaced (a semi-join
count of matched old rows, the batch size minus it, the distinct
partition tuples of the batch), pin the Spark job counts of MERGE and
an append-only MV refresh, and check the append-only change feed that
skips the multiset difference."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark.session import (
    local_frame,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake as lk

ADMIN = "ops"
SCHEMA = "id long, v string, grp string"
# grp NULL is the Hive default partition; id 2 appears twice in the
# target (a duplicate target key) and id NULL never matches
TABLE = [
    (1, "a", "x"), (2, "b", "x"), (2, "b2", "x"), (3, "c", "y"),
    (4, "d", None), (None, "e", "y"), (5, "f", "z"),
]


def _table(spark, rows=TABLE, partition_by=("grp",)) -> str:
    path = tempfile.mkdtemp(prefix="merge_stats_") + "/t"
    lk.publish_overwrite(
        spark, path, local_frame(spark, rows, SCHEMA), list(partition_by) or None
    )
    return path


def _old_stats(spark, path, updates, key_cols, partition_by):
    """The statistics as the merge defined them before they were
    observed: a semi-join count of the touched old rows (a NULL-safe
    semi-join on the batch's partition tuples) an update key matches,
    the batch size minus it, and the batch's distinct partition tuples
    (-1 when unpartitioned)."""
    current = lk.read_table(spark, path)
    if partition_by:
        touched = updates.select(*partition_by).distinct()
        a, t = current.alias("a"), touched.alias("t")
        cond = None
        for c in partition_by:
            eq = F.col(f"a.{c}").eqNullSafe(F.col(f"t.{c}"))
            cond = eq if cond is None else cond & eq
        current = a.join(t, cond, "left_semi")
        n_parts = touched.count()
    else:
        n_parts = -1
    updated = (
        current.select(*key_cols)
        .join(updates.select(*key_cols), key_cols, "left_semi")
        .count()
    )
    return {
        "rows_updated": updated,
        "rows_inserted": updates.count() - updated,
        "partitions_rewritten": n_parts,
    }


def _merge_matches_old(spark, path, updates, partition_by, **kw):
    updates = updates.localCheckpoint(eager=True)
    want = _old_stats(spark, path, updates, ["id"], partition_by)
    got = lk.merge_into(
        spark, path, updates, ["id"], partition_by=partition_by, **kw
    )
    assert got == want
    return got


def _spread(df):
    """``df`` spread over several Spark partitions, so the batch is a
    real plan (pinned by ``localCheckpoint``), not a local relation."""
    return df.repartition(3)


@pytest.mark.parametrize(
    "rows",
    [
        # a NULL partition value, a NULL key, an update of a duplicated
        # target key and an insert
        [(4, "D", None), (None, "E", "y"), (2, "B", "x"), (9, "new", "x")],
        # only inserts, into a new partition
        [(7, "g", "w"), (8, "h", "w")],
    ],
)
def test_observed_counts_equal_the_semi_join_definitions(spark, rows):
    path = _table(spark)
    updates = _spread(local_frame(spark, rows, SCHEMA))
    _merge_matches_old(spark, path, updates, ["grp"])


def test_observed_counts_on_an_unpartitioned_table(spark):
    path = _table(spark, partition_by=())
    rows = [(2, "B", "x"), (None, "E", "y"), (11, "k", "q")]
    got = _merge_matches_old(
        spark, path, _spread(local_frame(spark, rows, SCHEMA)), None
    )
    assert got == {"rows_updated": 2, "rows_inserted": 1, "partitions_rewritten": -1}


def test_observed_counts_with_schema_evolution(spark):
    path = _table(spark)
    rows = [(1, "A", "x", 10), (6, "n", "y", 11)]
    updates = _spread(local_frame(spark, rows, SCHEMA + ", extra int"))
    got = _merge_matches_old(spark, path, updates, ["grp"], evolve_schema=True)
    assert got == {"rows_updated": 1, "rows_inserted": 1, "partitions_rewritten": 2}
    out = lk.read_table(spark, path)
    assert {r.id: r.extra for r in out.filter("grp = 'x'").collect()} == {
        1: 10, 2: None,
    }


def test_observed_counts_for_an_already_pinned_batch(spark):
    path = _table(spark)
    rows = [(4, "D", None), (3, "C", "y"), (12, "m", "y")]
    updates = _spread(local_frame(spark, rows, SCHEMA)).localCheckpoint(eager=True)
    want = _old_stats(spark, path, updates, ["id"], ["grp"])
    got = lk.merge_into(
        spark, path, updates, ["id"], partition_by=["grp"], updates_pinned=True
    )
    assert got == want == {
        "rows_updated": 2, "rows_inserted": 1, "partitions_rewritten": 2,
    }


def test_observed_counts_for_an_empty_batch(spark):
    path = _table(spark)
    before = sorted(map(tuple, lk.read_table(spark, path).collect()), key=str)
    empty = _spread(local_frame(spark, [], SCHEMA))
    got = _merge_matches_old(spark, path, empty, ["grp"])
    assert got == {"rows_updated": 0, "rows_inserted": 0, "partitions_rewritten": 0}
    after = sorted(map(tuple, lk.read_table(spark, path).collect()), key=str)
    assert after == before


def test_local_relation_batch_counts_like_a_pinned_one(spark):
    path = _table(spark)
    rows = [(4, "D", None), (2, "B", "x"), (9, "new", "x")]
    updates = local_frame(spark, rows, SCHEMA)
    want = _old_stats(spark, path, updates, ["id"], ["grp"])
    got = lk.merge_into(spark, path, updates, ["id"], partition_by=["grp"])
    # id 2 matches both duplicated target rows, so the batch size minus
    # the matched rows is 0 although id 9 is new: the same arithmetic
    # as the semi-join definition
    assert got == want == {
        "rows_updated": 3, "rows_inserted": 0, "partitions_rewritten": 2,
    }
    assert sorted(
        (r.id, r.v) for r in lk.read_table(spark, path).collect()
        if r.grp in ("x", None)
    ) == [(1, "a"), (2, "B"), (4, "D"), (9, "new")]


def test_collect_stats_false_skips_the_row_counts(spark):
    path = _table(spark)
    got = lk.merge_into(
        spark,
        path,
        _spread(local_frame(spark, [(3, "C", "y")], SCHEMA)),
        ["id"],
        partition_by=["grp"],
        collect_stats=False,
    )
    assert got == {
        "rows_updated": None, "rows_inserted": None, "partitions_rewritten": 1,
    }


def test_observing_leaves_the_session_serializable(spark):
    """Spark's own ``Observation`` sets a field on the session that Java
    serialization rejects, after which a closure capturing the session
    (an ML model's training summary) fails to ship to executors. The
    merge observes through a manager of its own instead."""
    path = _table(spark)
    lk.merge_into(
        spark, path, _spread(local_frame(spark, [(3, "C", "y")], SCHEMA)),
        ["id"], partition_by=["grp"],
    )
    assert spark._jvm.org.apache.spark.util.Utils.serialize(spark._jsparkSession)


# --- Spark job pins -------------------------------------------------------


MERGE = (
    "MERGE INTO db.t AS t USING ({using}) AS s ON t.id = s.id "
    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
)


def test_merge_runs_at_most_three_jobs(eng, spark_jobs):
    using = (
        "SELECT id, n + 1 AS n, grp FROM db.t WHERE id <= 2 "
        "UNION ALL SELECT id + 10 AS id, n, grp FROM db.t WHERE id = 3"
    )
    with spark_jobs() as jobs:
        row = eng.sql(MERGE.format(using=using), ADMIN).collect()[0]
    assert tuple(row) == (2, 1, 2)
    # the pin, and the staged write with its broadcast of the batch
    assert jobs[0] <= 3, f"MERGE ran {jobs[0]} Spark jobs"


def test_merge_with_a_local_using_runs_at_most_two_jobs(eng, spark_jobs):
    using = "SELECT * FROM VALUES (2, 99, 'x'), (50, 1, 'z') AS v(id, n, grp)"
    with spark_jobs() as jobs:
        row = eng.sql(MERGE.format(using=using), ADMIN).collect()[0]
    assert tuple(row) == (1, 1, 2)
    assert jobs[0] <= 2, f"MERGE with a VALUES batch ran {jobs[0]} Spark jobs"
    got = eng.sql("SELECT id, n, grp FROM db.t", ADMIN).collect()
    assert sorted(map(tuple, got)) == [
        (1, 10, "x"), (2, 99, "x"), (3, 30, "y"), (50, 1, "z"),
    ]


def test_append_only_mv_refresh_runs_at_most_three_jobs(eng, spark, spark_jobs):
    eng.create_materialized_view(
        "db.mv", "db.t", ["grp"], {"cnt": ("count", None), "total": ("sum", "n")},
        principal=ADMIN,
    )
    eng.sql("INSERT INTO db.t VALUES (4, 40, 'y'), (4, 40, 'y'), (5, 5, 'w')", ADMIN)
    with spark_jobs() as jobs:
        assert eng.refresh_materialized_view("db.mv", principal=ADMIN)["refreshed"]
    assert jobs[0] <= 3, f"append-only refresh ran {jobs[0]} Spark jobs"
    got = sorted(map(tuple, eng.sql("SELECT grp, cnt, total FROM db.mv", ADMIN).collect()))
    assert got == [("w", 1, 5), ("x", 2, 30), ("y", 3, 110)]


# --- append-only change feed ----------------------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString().lower()


def _except_all_feed(spark, path, v_from, v_to):
    """The change feed as the multiset difference of two snapshots."""
    new = lk.read_table(spark, path, version=v_to)
    old = lk.read_table(spark, path, version=v_from)
    return new.exceptAll(old).withColumn("_change_type", F.lit("insert")).unionByName(
        old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
    )


def test_append_only_feed_skips_the_difference_and_keeps_duplicates(spark):
    path = _table(spark)
    v1 = lk.read_manifest(path)["version"]
    batch = [(1, "a", "x"), (1, "a", "x"), (20, "t", "x"), (21, "u", None)]
    lk.append_rows(spark, path, local_frame(spark, batch, SCHEMA), ["grp"])
    v2 = lk.read_manifest(path)["version"]
    feed = lk.table_changes(spark, path, v1, v2)
    assert "replicaterows" not in _plan(feed)  # no exceptAll in the plan
    got = sorted(map(tuple, feed.collect()), key=str)
    want = sorted(map(tuple, _except_all_feed(spark, path, v1, v2).collect()), key=str)
    assert got == want
    assert len(got) == 4  # the in-batch duplicate survives


def test_feed_that_removes_a_file_keeps_the_difference(spark):
    path = _table(spark)
    v1 = lk.read_manifest(path)["version"]
    lk.merge_into(
        spark, path, local_frame(spark, [(3, "C", "y")], SCHEMA), ["id"],
        partition_by=["grp"],
    )
    v2 = lk.read_manifest(path)["version"]
    feed = lk.table_changes(spark, path, v1, v2)
    assert "replicaterows" in _plan(feed)
    got = sorted(map(tuple, feed.collect()), key=str)
    assert got == [(3, "C", "y", "insert"), (3, "c", "y", "delete")]


# --- SCD2 statistics --------------------------------------------------------


def test_scd2_statistics_come_from_the_pin_and_the_write(spark, spark_jobs):
    """A no-op batch rewrites nothing, a batch whose only new key is
    NULL inserts nothing (the key joins are null-rejecting), and a
    changed key plus a new key rewrite the closing row's month and the
    as-of month — the counts the former count queries gave."""
    import datetime

    t_jan = datetime.datetime(2024, 1, 1)
    t_mar = datetime.datetime(2024, 3, 1)
    t_jun = datetime.datetime(2024, 6, 1)
    path = tempfile.mkdtemp(prefix="scd2_stats_") + "/dim"
    seed = local_frame(
        spark,
        [(1, "a", t_jan, None, True), (2, "b", t_jan, None, True),
         (3, "c", t_mar, None, True)],
        "k int, v string, effective_from timestamp, effective_to timestamp, "
        "is_current boolean",
    ).withColumn("month", lk.scd2_partition_value(F.col("effective_from")))
    lk.publish_overwrite(spark, path, seed, ["month"])

    def apply(rows):
        upd = local_frame(spark, rows, "k int, v string")
        return lk.scd2_apply(
            spark, path, upd, ["k"], ["v"], t_jun, partition_col="month"
        )

    none = {"rows_closed": 0, "rows_inserted": 0, "partitions_rewritten": 0}
    assert apply([(2, "b")]) == none
    assert apply([(None, "n")]) == none
    with spark_jobs() as jobs:
        got = apply([(1, "a2"), (9, "z"), (None, "n")])
    assert got == {"rows_closed": 1, "rows_inserted": 2, "partitions_rewritten": 2}
    assert jobs[0] <= 7, f"scd2_apply ran {jobs[0]} Spark jobs"
    current = lk.read_table(spark, path).filter("is_current")
    assert sorted((r.k, r.v, r.month) for r in current.collect()) == [
        (1, "a2", "2024-06"), (2, "b", "2024-01"), (3, "c", "2024-03"),
        (9, "z", "2024-06"),
    ]
