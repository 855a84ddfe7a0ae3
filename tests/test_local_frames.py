"""Driver-built results are Arrow local relations: collecting a
statement's result row, a SHOW or DESCRIBE HISTORY listing, or a
manifest-served ``SELECT count(*)`` runs no Spark job. Jobs are counted
through a job group and ``statusTracker``; every driver-side frame in
the engine and the lake path is built by ``session.local_frame``, which
the AST guard below holds them to."""

from __future__ import annotations

import ast
import datetime
import os
import time
from pathlib import Path

import pytest

from tf_aws_lakeformation_governed_datalake_demo_spark.session import (
    local_frame,
)

ADMIN = "ops"
PKG = Path(__file__).resolve().parent.parent / (
    "tf_aws_lakeformation_governed_datalake_demo_spark"
)


@pytest.mark.parametrize(
    "statement",
    [
        "INSERT INTO db.t VALUES (4, 40, 'y')",
        "UPDATE db.t SET n = n + 1 WHERE grp = 'x'",
        "DELETE FROM db.t WHERE id = 3",
        "MERGE INTO db.t AS t USING (SELECT 2 AS id, 99 AS n, 'x' AS grp) "
        "AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "OPTIMIZE db.t",
        "VACUUM db.t RETAIN 1 SNAPSHOTS",
    ],
)
def test_statement_result_row_collects_without_a_job(eng, spark_jobs, statement):
    out = eng.sql(statement, ADMIN)
    with spark_jobs() as jobs:
        rows = out.collect()
    assert len(rows) == 1
    assert jobs == [0], f"{statement}: collecting its result ran {jobs[0]} jobs"


@pytest.mark.parametrize("statement", ["SHOW TABLES", "DESCRIBE HISTORY db.t"])
def test_metadata_listing_runs_no_job(eng, spark_jobs, statement):
    with spark_jobs() as jobs:
        rows = eng.sql(statement, ADMIN).collect()
    assert rows
    assert jobs == [0], f"{statement} ran {jobs[0]} jobs"


def test_metadata_count_through_submit_and_results_runs_no_job(eng, spark_jobs):
    with spark_jobs() as jobs:
        qid = eng.submit("SELECT count(*) AS n FROM db.t", ADMIN)
        rows = eng.results(qid)
    assert [tuple(r) for r in rows] == [(3,)]
    assert "COUNT_STATS:db.t" in eng.executions[qid].filters_applied
    assert jobs == [0], f"metadata count ran {jobs[0]} jobs"


def test_scanned_result_pages_stay_pinned(eng):
    qid = eng.submit("SELECT id FROM db.t ORDER BY id", ADMIN)
    rows, token = eng.results_page(qid, max_rows=2)
    assert [r.id for r in rows] == [1, 2] and token == "2"
    qe = eng.executions[qid]
    assert qe.page_source is not qe.result  # a scan is pinned
    rest, token = eng.results_page(qid, max_rows=2, next_token=token)
    assert [r.id for r in rest] == [3] and token is None


def test_local_frame_keeps_the_declared_schema(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
            T.StructField("m", T.MapType(T.StringType(), T.LongType()), True),
        ]
    )
    df = local_frame(spark, [(1, ["a"], {"x": 2}), (2, None, None)], schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == [
        (1, ["a"], {"x": 2}),
        (2, None, None),
    ]
    empty = local_frame(spark, [], "a string, b long")
    assert empty.columns == ["a", "b"] and empty.collect() == []


def test_naive_timestamps_read_as_python_local_time(spark):
    """A naive ``datetime`` is Python-local time, exactly as
    ``createDataFrame`` of a list reads it: under New York time noon is
    17:00 UTC (the session time zone)."""
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        ts = datetime.datetime(2024, 1, 15, 12, 0, 0)
        got = local_frame(spark, [(ts,)], "t timestamp")
        listed = spark.createDataFrame([(ts,)], "t timestamp")
        as_text = "CAST(t AS STRING) AS s"
        assert got.selectExpr(as_text).first().s == "2024-01-15 17:00:00"
        assert (
            got.selectExpr(as_text).first().s
            == listed.selectExpr(as_text).first().s
        )
        assert got.first().t == ts  # round-trips to the same local time
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def _list_built_frames(tree: ast.AST) -> list[int]:
    """Line numbers of ``parallelize(`` calls and of ``createDataFrame(``
    calls whose data argument is a Python list (a literal, a
    comprehension or ``list(...)``)."""
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
        if name == "parallelize":
            bad.append(node.lineno)
        elif name == "createDataFrame" and node.args:
            data = node.args[0]
            if isinstance(data, (ast.List, ast.ListComp)) or (
                isinstance(data, ast.Call)
                and getattr(data.func, "id", "") == "list"
            ):
                bad.append(node.lineno)
    return sorted(set(bad))


def test_guard_catches_list_built_frames():
    src = (
        "spark.createDataFrame([], schema)\n"
        "spark.createDataFrame([(1,)], 'a long')\n"
        "spark.createDataFrame(sc.parallelize(rows, 1), schema)\n"
        "spark.createDataFrame(list(rows), schema)\n"
        "spark.createDataFrame(arrow_table, schema)\n"
    )
    assert _list_built_frames(ast.parse(src)) == [1, 2, 3, 4]


def test_driver_frames_are_built_by_the_helper_only():
    """``engine.py``, ``catalog.py``, ``fixtures.py`` and ``sources/``
    build driver-side frames through ``session.local_frame`` — never a
    ``parallelize`` RDD or ``createDataFrame`` of a Python list, each of
    which costs a Python-worker job per action. ``operators/`` (the
    query registry) is outside this rule."""
    paths = [PKG / "engine.py", PKG / "catalog.py", PKG / "fixtures.py"]
    paths += sorted((PKG / "sources").glob("*.py"))
    found = {}
    for p in paths:
        lines = _list_built_frames(ast.parse(p.read_text()))
        if lines:
            found[os.path.relpath(p, PKG)] = lines
    assert not found, f"driver frames built outside local_frame: {found}"
