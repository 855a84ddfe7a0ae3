"""Property-based lake-upsert invariants (hypothesis): for ANY sequence
of update batches, merge_into must behave as the naive key-replace map,
and scd2_apply must preserve full history with exactly one open version
per key. The adversarial inputs the crafted fixtures can't enumerate —
empty batches, all-new keys, all-replacement batches, repeated applies.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
    merge_into,
    read_table,
    scd2_apply,
    scd2_as_of,
)

# (key, value) batches over a small key space so collisions are common
_BATCH = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 99)),
    min_size=0,
    max_size=8,
    unique_by=lambda kv: kv[0],  # merge contract: unique keys per batch
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(_BATCH, min_size=1, max_size=3))
def test_merge_into_equals_naive_key_replace(spark, tmp_path_factory, batches):
    """After any batch sequence, the table equals the dict you would get
    by replaying key -> value assignments in order (REPLACED matched
    keys, INSERTED new ones, untouched everything else)."""
    path = str(tmp_path_factory.mktemp("mergeprop") / "t")
    seed = [(k, -1) for k in range(0, 5)]
    df = spark.createDataFrame(seed, "k long, v long").withColumn(
        "bucket", F.col("k") % 2
    )
    df.write.partitionBy("bucket").parquet(path)
    expected = dict(seed)
    for batch in batches:
        if not batch:
            continue
        upd = spark.createDataFrame(batch, "k long, v long").withColumn(
            "bucket", F.col("k") % 2
        )
        merge_into(
            spark, path, upd, ["k"], partition_by=["bucket"], schema=df.schema
        )
        expected.update(dict(batch))
    got = {
        r.k: r.v for r in read_table(spark, path, df.schema).collect()
    }
    assert got == expected


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(_BATCH, min_size=1, max_size=3))
def test_scd2_history_invariants(spark, tmp_path_factory, batches):
    """After any apply sequence: exactly one open version per key, closed
    versions form contiguous non-overlapping validity chains, a no-op
    re-apply of the same values adds nothing, and the final as-of read
    equals the naive replay."""
    import datetime

    path = str(tmp_path_factory.mktemp("scd2prop") / "dim")
    seed = [(k, -1) for k in range(0, 5)]
    t0 = datetime.datetime(2024, 1, 1)
    (
        spark.createDataFrame(seed, "k long, v long")
        .withColumn("effective_from", F.lit(t0))
        .withColumn("effective_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .write.parquet(path)
    )
    expected = dict(seed)
    when = t0
    for i, batch in enumerate(batches):
        if not batch:
            continue
        when = t0 + datetime.timedelta(days=30 * (i + 1))
        upd = spark.createDataFrame(batch, "k long, v long")
        scd2_apply(spark, path, upd, key_cols=["k"], change_cols=["v"], as_of=when)
        expected.update(dict(batch))
        # idempotence: re-applying the SAME batch at a later instant is a
        # no-op (null-safe unchanged detection)
        n_before = read_table(spark, path).count()
        scd2_apply(
            spark,
            path,
            upd,
            key_cols=["k"],
            change_cols=["v"],
            as_of=when + datetime.timedelta(days=1),
        )
        assert (
            read_table(spark, path).count()
            == n_before
        )

    hist = read_table(spark, path).collect()
    by_key: dict = {}
    for r in hist:
        by_key.setdefault(r.k, []).append(r)
    for k, rows in by_key.items():
        opens = [r for r in rows if r.is_current]
        assert len(opens) == 1 and opens[0].effective_to is None
        closed = sorted(
            (r for r in rows if not r.is_current), key=lambda r: r.effective_from
        )
        # validity chain: each closed version ends where some later one begins
        chain = closed + opens
        for a, b in zip(chain, chain[1:]):
            assert a.effective_to == b.effective_from
    final = {
        r.k: r.v
        for r in scd2_as_of(
            spark, path, when + datetime.timedelta(days=2)
        ).collect()
    }
    assert final == expected


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    preds=st.lists(
        st.tuples(st.integers(2, 5), st.integers(0, 4)), min_size=1, max_size=3
    )
)
def test_delete_rows_equals_naive_filter_sequence(spark, tmp_path_factory, preds):
    """For ANY sequence of residue-predicate deletions, the table equals
    the naive set-filter replay — including deletions that empty whole
    partitions (their directories must disappear) and no-op deletions
    (idempotence: zero rows, zero rewrites)."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        delete_rows,
    )

    path = str(tmp_path_factory.mktemp("delprop") / "t")
    rows = [(k,) for k in range(40)]
    df = spark.createDataFrame(rows, "k long").withColumn("bucket", F.col("k") % 4)
    df.write.partitionBy("bucket").parquet(path)
    alive = {k for (k,) in rows}
    for mod, res in preds:
        res = res % mod
        doomed = {k for k in alive if k % mod == res}
        stats = delete_rows(
            spark, path, f"k % {mod} = {res}", partition_col="bucket"
        )
        assert stats["rows_deleted"] == len(doomed)
        alive -= doomed
        got = {r.k for r in read_table(spark, path).collect()} if alive else set()
        if alive:
            assert got == alive
        # partitions with no survivors are directory-gone
        import pathlib

        live_buckets = {k % 4 for k in alive}
        for b in range(4):
            exists = (pathlib.Path(path) / f"bucket={b}").exists()
            assert exists == (b in live_buckets)
        if not alive:
            break  # fully-emptied table: nothing left to read or delete
        # idempotence: repeating the same delete is a no-op
        again = delete_rows(
            spark, path, f"k % {mod} = {res}", partition_col="bucket"
        )
        assert again == {"rows_deleted": 0, "partitions_rewritten": 0}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rewrites=st.lists(
        st.tuples(
            st.sets(st.integers(0, 3), min_size=1),  # buckets to rewrite
            st.integers(0, 99),  # marker value
        ),
        min_size=1,
        max_size=3,
    )
)
def test_publish_overwrite_equals_naive_partition_replace(
    spark, tmp_path_factory, rewrites
):
    """For ANY sequence of partial-partition publishes, the table equals
    the naive per-partition replacement replay — untouched partitions
    keep their exact content and no artifact survives."""
    from pathlib import Path

    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        publish_overwrite,
    )

    path = str(tmp_path_factory.mktemp("pubprop") / "t")
    base = [(k, -1) for k in range(20)]
    df = spark.createDataFrame(base, "k long, v long").withColumn(
        "bucket", F.col("k") % 4
    )
    df.write.partitionBy("bucket").parquet(path)
    expected = {k: -1 for k, _ in base}
    for buckets, marker in rewrites:
        blist = sorted(buckets)
        result = (
            spark.createDataFrame(
                [(k, marker) for k in range(20) if k % 4 in buckets],
                "k long, v long",
            ).withColumn("bucket", F.col("k") % 4)
        )
        publish_overwrite(spark, path, result, partition_by=["bucket"])
        for k in range(20):
            if k % 4 in buckets:
                expected[k] = marker
        got = {r.k: r.v for r in read_table(spark, path).collect()}
        assert got == expected
        # no publish artifacts linger
        leftovers = [
            p.name
            for p in Path(path).iterdir()
            if p.name.startswith("_staged_")
        ]
        assert leftovers == []


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(_BATCH, min_size=1, max_size=3))
def test_table_changes_feed_reconstructs_every_snapshot(
    spark, tmp_path_factory, batches
):
    """CDF soundness for ANY merge sequence on a manifest table: for
    every consecutive snapshot pair, applying the v_i -> v_{i+1} feed
    to v_i reproduces v_{i+1} as a multiset, and the long feed
    v_1 -> v_N telescopes to the same final state — inserts and deletes
    from intermediate churn must cancel exactly."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        publish_overwrite,
        read_manifest,
        read_table,
        table_changes,
    )

    path = str(tmp_path_factory.mktemp("cdfprop") / "t")
    seed = [(k, -1) for k in range(0, 5)]
    df = spark.createDataFrame(seed, "k long, v long").withColumn(
        "bucket", F.col("k") % 2
    )
    publish_overwrite(spark, path, df, ["bucket"])
    for batch in batches:
        if not batch:
            continue
        upd = spark.createDataFrame(batch, "k long, v long").withColumn(
            "bucket", F.col("k") % 2
        )
        merge_into(
            spark,
            path,
            upd,
            ["k"],
            partition_by=["bucket"],
            schema=df.schema,
            collect_stats=False,
        )
    latest = read_manifest(path)["version"]

    def apply_feed(base_rows, feed_rows):
        state = sorted(base_rows)
        for r in sorted(feed_rows):
            row = (r.k, r.v, r.bucket)
            if r._change_type == "delete":
                state.remove(row)  # ValueError = feed deleted a ghost row
            else:
                state.append(row)
        return sorted(state)

    def snap(version):
        return sorted(
            (r.k, r.v, r.bucket)
            for r in read_table(spark, path, version=version).select(
                "k", "v", "bucket"
            ).collect()
        )

    for v in range(1, latest):
        feed = table_changes(spark, path, v, v + 1).select(
            "k", "v", "bucket", "_change_type"
        )
        assert apply_feed(snap(v), feed.collect()) == snap(v + 1)
    if latest > 1:
        long_feed = table_changes(spark, path, 1, latest).select(
            "k", "v", "bucket", "_change_type"
        )
        assert apply_feed(snap(1), long_feed.collect()) == snap(latest)
