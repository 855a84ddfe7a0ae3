"""Physical-plan assertions — the ".explain and iterate" loop as code.

These helpers make scan pruning, predicate pushdown, broadcast joins, and
top-k plan shapes *testable invariants* instead of one-off eyeballing:
tests/test_plans.py pins every headline query to the plan it should have
at 100 TB (a plan regression fails CI before it burns a cluster).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The pre-execution physical plan as text (AQE initial plan)."""
    return df._jdf.queryExecution().executedPlan().toString()


def final_plan(df: DataFrame) -> str:
    """The post-execution plan (AQE final) — only it carries
    WholeStageCodegen markers. Executes via collect() on the *same* query
    execution (a sink write would plan a fresh one); test-scale only.
    """
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def assert_pushed_filter(df: DataFrame, column: str) -> None:
    """The filter on `column` must reach the parquet reader."""
    plan = physical_plan(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    if not (m and column in m.group(1)):
        raise AssertionError(
            f"no pushed filter on {column!r}; PushedFilters="
            f"{m.group(1) if m else '<absent>'}"
        )


def assert_read_schema_pruned(df: DataFrame, max_columns: int) -> None:
    """The scan must read at most `max_columns` columns (column pruning)."""
    plan = physical_plan(df)
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        ncols = len([c for c in m.group(1).split(",") if ":" in c])
        if ncols > max_columns:
            raise AssertionError(
                f"scan reads {ncols} columns (> {max_columns}): {m.group(1)}"
            )


def assert_broadcast_join(df: DataFrame) -> None:
    """At least one join must be broadcast (no shuffle of the big side)."""
    plan = physical_plan(df)
    if not ("BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan):
        raise AssertionError("expected a broadcast join in:\n" + plan[:2000])


def assert_top_k(df: DataFrame) -> None:
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (heap top-k),
    never a global sort materialization."""
    plan = physical_plan(df)
    if "TakeOrderedAndProject" not in plan:
        raise AssertionError(
            "expected TakeOrderedAndProject in:\n" + plan[:2000]
        )
