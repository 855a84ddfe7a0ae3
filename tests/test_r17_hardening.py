"""Round-17 hardening (round-16 ADVICE items): fail-loud contracts on
the optimized fast paths — the pinned-updates merge, the sig-less index
probe, and the legacy minhash sets-store version boundary."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_merge_updates_pinned_requires_materialized_plan(spark, lake):
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        merge_into,
        publish_overwrite,
    )

    path = os.path.join(lake, "pin_guard")
    base = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    publish_overwrite(spark, path, base, None)
    # an unpinned derived plan must be refused under updates_pinned=True
    unpinned = base.filter(F.col("k") < 5).withColumn("v", F.col("v") + 1)
    with pytest.raises(ValueError, match="materialized"):
        merge_into(spark, path, unpinned, ["k"], updates_pinned=True)
    # the same plan, actually pinned, is accepted
    merge_into(
        spark, path, unpinned.localCheckpoint(eager=True), ["k"],
        updates_pinned=True,
    )


@pytest.mark.parametrize("pin", ["localCheckpoint", "cache"])
def test_merge_updates_pinned_refuses_plans_built_on_a_pin(spark, lake, pin):
    """The guard fails closed: a frame derived FROM a pinned frame still
    re-evaluates its own operators per use, so only the materialization
    itself (plan root LogicalRDD / InMemoryRelation) is accepted."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        merge_into,
        publish_overwrite,
        read_table,
    )

    path = os.path.join(lake, f"pin_guard_derived_{pin}")
    base = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    publish_overwrite(spark, path, base, None)
    upd = base.withColumn("v", F.col("v") + 1)
    pinned = upd.localCheckpoint(eager=True) if pin == "localCheckpoint" else upd.cache()
    if pin == "cache":
        pinned.count()
    for derived in (
        pinned.filter(F.col("k") < 5),
        pinned.select("k", (F.col("v") + 1).alias("v")),
    ):
        with pytest.raises(ValueError, match="materialized frame itself"):
            merge_into(spark, path, derived, ["k"], updates_pinned=True)
    merge_into(spark, path, pinned, ["k"], updates_pinned=True)
    assert sorted(r.v for r in read_table(spark, path).collect()) == [
        2 * k + 1 for k in range(10)
    ]
    if pin == "cache":
        pinned.unpersist()


def test_probe_minhash_index_sigless_contract(spark, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark.operators.dedup import (
        probe_minhash_index,
    )

    with pytest.raises(ValueError, match="batch_bands"):
        probe_minhash_index(spark, str(tmp_path / "idx"), None)
    # bands without ids: ids derived from the band table, no crash
    bands = spark.createDataFrame(
        [(1, 0, "b0", 3), (1, 1, "b1", 4)],
        "doc_id long, band int, bucket string, shard int",
    ).localCheckpoint(eager=True)
    pairs = probe_minhash_index(
        spark, str(tmp_path / "idx"), None, string_buckets=True,
        batch_bands=bands,
    )
    assert pairs.count() == 0  # empty index, single doc -> no pairs


def test_minhash_sink_refuses_legacy_sets_store(spark, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark.operators.dedup import (
        minhash_stream_sink,
    )

    docs = str(tmp_path / "docs")
    os.makedirs(docs + "_sets")  # the pre-r16 sibling sets tree
    sink = minhash_stream_sink(
        spark,
        "doc_id long, lang string, text string",
        str(tmp_path / "idx"),
        docs,
        str(tmp_path / "out"),
    )
    batch = spark.createDataFrame(
        [(1, "en", "a b c d e f")], "doc_id long, lang string, text string"
    )
    with pytest.raises(RuntimeError, match="legacy minhash sets store"):
        sink(batch, 0)
