"""Lake-level transaction log (round-12, SURVEY §7.5's sketch
shipped): one record rename commits a cross-table cut; txlog-aware
readers see both-or-neither across a crash mid-propagation;
roll-forward heals; divergence fail-closes before the record exists."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark import (
    Engine,
    PermissionDeniedError,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.catalog import (
    GovernedCatalog,
    TableDef,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    lake as lk,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    txlog as tx,
)


@pytest.fixture()
def lake_pair(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("txl"))
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    docs = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], i) for i in range(20)],
        "id long, grp string, v long",
    )
    stats = spark.createDataFrame(
        [("a", 10), ("b", 10)], "grp string, n long"
    )
    lk.publish_overwrite(spark, f"{lake}/docs", docs, ["grp"])
    lk.publish_overwrite(spark, f"{lake}/stats", stats, None)
    cat.register_table(
        TableDef("db", "docs", f"{lake}/docs", schema=docs.schema,
                 partition_keys=("grp",))
    )
    cat.register_table(
        TableDef("db", "stats", f"{lake}/stats", schema=stats.schema)
    )
    return Engine(spark, cat), lake


def _batches(spark):
    new_docs = spark.createDataFrame(
        [(100 + i, ["a", "b"][i % 2], i) for i in range(10)],
        "id long, grp string, v long",
    )
    new_stats = spark.createDataFrame(
        [("a", 5), ("b", 5)], "grp string, n long"
    )
    return new_docs, new_stats


def test_lake_transaction_end_to_end(spark, lake_pair):
    eng, lake = lake_pair
    new_docs, new_stats = _batches(spark)
    during = {}

    def writer(stage):
        stage.append("db.docs", new_docs)
        stage.append("db.stats", new_stats)
        # staged writes invisible to main AND to txn readers
        during["docs"] = eng.sql(
            "SELECT count(*) AS n FROM db.docs", "ops"
        ).first().n
        during["docs_txn"] = eng.table_txn("db.docs", "ops").count()

    out = eng.lake_transaction(["db.docs", "db.stats"], writer, "ops")
    assert during == {"docs": 20, "docs_txn": 20}
    assert out["seq"] == 1 and set(out["versions"]) == {
        "db.docs", "db.stats"
    }
    # both visible, both read paths agree
    assert eng.sql("SELECT count(*) AS n FROM db.docs", "ops").first().n == 30
    assert eng.table_txn("db.docs", "ops").count() == 30
    assert (
        eng.table_txn("db.stats", "ops").agg(F.sum("n")).first()[0] == 30
    )
    # propagated: main governs again
    assert tx.txlog_resolve(lake, f"{lake}/docs") is None
    # a second transaction increments seq
    out2 = eng.lake_transaction(
        ["db.docs", "db.stats"],
        lambda st: (st.append("db.docs", new_docs.limit(2)),
                    st.append("db.stats",
                              spark.createDataFrame([("a", 2)],
                                                    "grp string, n long"))),
        "ops",
    )
    assert out2["seq"] == 2
    audit = [
        e for e in eng.catalog.audit.events
        if "LAKE TRANSACTION" in e["query"]
    ]
    assert [a["status"] for a in audit] == ["ok", "ok"]


def test_txn_readers_never_see_a_torn_cut(spark, lake_pair, monkeypatch):
    """THE claim: crash between the record rename and the pointer
    moves -> txlog-aware readers already see the full cut (both
    tables), plain readers still see the old cut (both tables) — at
    no point does either kind see a half-published pair. Roll-forward
    heals the pointers idempotently."""
    eng, lake = lake_pair
    new_docs, new_stats = _batches(spark)
    docs_loc, stats_loc = f"{lake}/docs", f"{lake}/stats"

    real_write = tx._write_pointer
    monkeypatch.setattr(
        tx, "_write_pointer",
        lambda *a, **k: (_ for _ in ()).throw(OSError("crash mid-propagation")),
    )
    with pytest.raises(OSError, match="crash mid-propagation"):
        eng.lake_transaction(
            ["db.docs", "db.stats"],
            lambda st: (st.append("db.docs", new_docs),
                        st.append("db.stats", new_stats)),
            "ops",
        )
    monkeypatch.setattr(tx, "_write_pointer", real_write)

    # committed (record exists), not yet propagated
    rec = tx.txlog_current(lake)
    assert rec is not None and rec["seq"] == 1
    # txn readers: the FULL new cut
    assert tx.read_table_txn(spark, lake, docs_loc).count() == 30
    assert (
        tx.read_table_txn(spark, lake, stats_loc)
        .agg(F.sum("n")).first()[0] == 30
    )
    # plain readers: the FULL old cut
    assert lk.read_table(spark, docs_loc).count() == 20
    assert lk.read_table(spark, stats_loc).agg(F.sum("n")).first()[0] == 20
    # heal; both paths converge on the new cut
    out = tx.txlog_roll_forward(lake)
    assert set(out.values()) == {"rolled"}
    assert lk.read_table(spark, docs_loc).count() == 30
    assert tx.txlog_resolve(lake, docs_loc) is None
    # replay is a no-op
    assert set(tx.txlog_roll_forward(lake).values()) == {"current"}


def test_divergence_fails_closed_before_commit(spark, lake_pair):
    """A concurrent main commit between staging and the txlog commit
    raises BEFORE any record exists: nothing committed, branches
    dropped, both tables untouched."""
    eng, lake = lake_pair
    new_docs, new_stats = _batches(spark)

    def writer(stage):
        stage.append("db.docs", new_docs)
        stage.append("db.stats", new_stats)
        # concurrent writer lands on main mid-transaction
        lk.append_rows(
            eng.spark, f"{lake}/docs",
            new_docs.limit(1), partition_by=["grp"],
        )

    with pytest.raises(lk.ConcurrentLakeModificationError):
        eng.lake_transaction(["db.docs", "db.stats"], writer, "ops")
    assert tx.txlog_current(lake) is None
    # only the concurrent append is visible; the staged batch is not
    assert lk.read_table(spark, f"{lake}/docs").count() == 21
    assert (
        lk.read_table(spark, f"{lake}/stats").agg(F.sum("n")).first()[0]
        == 20
    )
    assert lk.list_branches(f"{lake}/docs") == {}


def test_unpinned_tables_and_later_commits_unaffected(spark, lake_pair):
    """Resolution scope: tables never named in a record read through
    their own pointer; a pin is inert once later single-table commits
    advance the pointer past it."""
    eng, lake = lake_pair
    new_docs, new_stats = _batches(spark)
    other = f"{lake}/other"
    lk.publish_overwrite(
        spark, other,
        spark.createDataFrame([(1, 1)], "id long, v long"),
        None,
    )
    eng.lake_transaction(
        ["db.docs", "db.stats"],
        lambda st: (st.append("db.docs", new_docs),
                    st.append("db.stats", new_stats)),
        "ops",
    )
    assert tx.txlog_resolve(lake, other) is None
    # pointer advances past the pin via an ordinary append
    lk.append_rows(spark, f"{lake}/docs", new_docs.limit(1),
                   partition_by=["grp"])
    assert tx.txlog_resolve(lake, f"{lake}/docs") is None
    assert tx.read_table_txn(spark, lake, f"{lake}/docs").count() == 31


def test_lake_transaction_gating(spark, lake_pair):
    eng, lake = lake_pair
    new_docs, _ = _batches(spark)
    with pytest.raises(PermissionDeniedError):
        eng.lake_transaction(
            ["db.docs", "db.stats"],
            lambda st: st.append("db.docs", new_docs),
            "nobody",
        )
    assert tx.txlog_current(lake) is None
    assert lk.list_branches(f"{lake}/docs") == {}


def test_stream_txlog_lost_checkpoint_replays_as_noop_cuts(
    spark, lake_pair, tmp_path
):
    """The streaming x txlog composition's restart contract: replaying
    every micro-batch (lost checkpoint) stages nothing — each
    transaction degenerates to a no-op cut; both tables' versions and
    contents are byte-identical, cross-table consistency holds
    throughout."""
    eng, lake = lake_pair
    batches = [
        spark.createDataFrame(
            [(200 + 10 * b + i, ["a", "b"][i % 2], i) for i in range(4)],
            "id long, grp string, v long",
        )
        for b in range(3)
    ]

    def run_all():
        for epoch, batch in enumerate(batches):
            def writer(stage, batch=batch, epoch=epoch):
                stage.append("db.docs", batch,
                             stream_id="s1", batch_id=epoch)
                stage.append(
                    "db.stats",
                    batch.groupBy("grp").agg(F.count(F.lit(1)).alias("n")),
                    stream_id="s1", batch_id=epoch,
                )
            eng.lake_transaction(["db.docs", "db.stats"], writer, "ops")

    run_all()
    v_docs = lk.read_manifest(f"{lake}/docs")["version"]
    n_docs = lk.read_table(spark, f"{lake}/docs").count()
    n_stats = lk.read_table(spark, f"{lake}/stats").agg(F.sum("n")).first()[0]
    # seed (20 docs / stats summing 20) + 3 batches x 4 rows
    assert n_docs == 20 + 12 and n_stats == 20 + 12
    run_all()  # full replay: every append is a ledger no-op
    assert lk.read_manifest(f"{lake}/docs")["version"] == v_docs
    assert lk.read_table(spark, f"{lake}/docs").count() == n_docs
    assert (
        lk.read_table(spark, f"{lake}/stats").agg(F.sum("n")).first()[0]
        == n_stats
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.txlog import (
        txlog_current,
    )

    assert txlog_current(lake)["seq"] == 6  # 3 real cuts + 3 no-op cuts


def test_txlog_vacuum_bounds_the_log_but_keeps_unpropagated_pins(
    spark, lake_pair, monkeypatch
):
    eng, lake = lake_pair
    new_docs, new_stats = _batches(spark)
    # 4 transactions -> 4 records
    for i in range(4):
        eng.lake_transaction(
            ["db.docs", "db.stats"],
            lambda st: (st.append("db.docs", new_docs,
                                  stream_id="s", batch_id=i),
                        st.append("db.stats", new_stats,
                                  stream_id="s", batch_id=i)),
            "ops",
        )
    assert len(tx.txlog_records(lake)) == 4
    out = tx.txlog_vacuum(lake, keep_last=2)
    assert out == {"deleted": 2, "kept": 2}
    assert [r["seq"] for r in tx.txlog_records(lake)] == [3, 4]
    # resolution still works after vacuum (all pins propagated -> main)
    assert tx.txlog_resolve(lake, f"{lake}/docs") is None

    # a crashed-propagation record is NEVER reclaimed past keep_last
    real_write = tx._write_pointer
    monkeypatch.setattr(
        tx, "_write_pointer",
        lambda *a, **k: (_ for _ in ()).throw(OSError("crash")),
    )
    with pytest.raises(OSError):
        eng.lake_transaction(
            ["db.docs", "db.stats"],
            lambda st: (st.append("db.docs", new_docs,
                                  stream_id="s", batch_id=9),
                        st.append("db.stats", new_stats,
                                  stream_id="s", batch_id=9)),
            "ops",
        )
    monkeypatch.setattr(tx, "_write_pointer", real_write)
    # push the crashed record out of the keep window with newer commits
    lk.append_rows(spark, f"{lake}/docs", new_docs.limit(1),
                   partition_by=["grp"])
    # (main advanced past docs' pin, but stats' pin is still ahead)
    out = tx.txlog_vacuum(lake, keep_last=1)
    kept = tx.txlog_records(lake)
    assert any(
        tx.txlog_resolve(lake, f"{lake}/stats") is not None
        for _ in [0]
    )  # the un-propagated stats pin survives vacuum
    assert kept and kept[0]["seq"] == 5  # crashed record retained
    # heal, then vacuum reclaims it
    tx.txlog_roll_forward(lake)
    out = tx.txlog_vacuum(lake, keep_last=1)
    assert [r["seq"] for r in tx.txlog_records(lake)] == [5]


def test_maintain_txlog_gate_and_actions(spark, lake_pair, monkeypatch):
    eng, lake = lake_pair
    new_docs, new_stats = _batches(spark)
    # a crashed propagation to heal
    real_write = tx._write_pointer
    monkeypatch.setattr(
        tx, "_write_pointer",
        lambda *a, **k: (_ for _ in ()).throw(OSError("crash")),
    )
    with pytest.raises(OSError):
        eng.lake_transaction(
            ["db.docs", "db.stats"],
            lambda st: (st.append("db.docs", new_docs),
                        st.append("db.stats", new_stats)),
            "ops",
        )
    monkeypatch.setattr(tx, "_write_pointer", real_write)
    # non-admin refused and audited; nothing healed
    with pytest.raises(PermissionDeniedError):
        eng.maintain_txlog("roll_forward", "analyst")
    assert lk.read_table(spark, f"{lake}/docs").count() == 20
    out = eng.maintain_txlog("roll_forward", "ops")
    assert set(out["tables"].values()) == {"rolled"}
    assert lk.read_table(spark, f"{lake}/docs").count() == 30
    assert eng.maintain_txlog("vacuum", "ops", keep_last=1) == {
        "deleted": 0, "kept": 1,
    }
    audited = [
        e for e in eng.catalog.audit.events
        if e["query"].startswith("MAINTAIN TXLOG")
    ]
    assert [a["status"] for a in audited] == ["denied", "ok", "ok"]


def test_txlog_takes_the_swapped_publish_lock(
    spark, lake_pair, monkeypatch
):
    """``lake.publish_lock`` is the pluggable commit lock (an
    object-store deployment swaps in a CAS lease); the txlog commit,
    roll-forward and vacuum must take the swapped one, not the default
    captured at import."""
    import os
    from contextlib import contextmanager
    from pathlib import Path

    _, lake = lake_pair
    docs = os.path.abspath(f"{lake}/docs")
    calls = []

    @contextmanager
    def recording_lock(live_dir):
        calls.append(str(live_dir))
        with lk._flock_publish_lock(live_dir):
            yield

    monkeypatch.setattr(lk, "publish_lock", recording_lock)
    version = lk.read_manifest(docs)["version"]
    tx.txlog_commit(lake, {docs: version})
    assert tx.txlog_roll_forward(lake) == {docs: "current"}
    tx.txlog_vacuum(lake, keep_last=1)
    txlog_dir = str(Path(lake) / "_txlog")
    assert calls == [txlog_dir, docs, docs, txlog_dir]

