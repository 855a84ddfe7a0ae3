"""Catalog-level MATERIALIZED VIEWs (round 9): additive aggregates
stored as their own manifest tables, refreshed incrementally from the
source's change feed, governed like any table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tf_aws_lakeformation_governed_datalake_demo_spark import (
    Engine,
    GovernedCatalog,
    TableDef,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
    DataCellsFilter,
    PermissionDeniedError,
)
from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
    append_rows,
    delete_rows,
    delete_rows_mor,
    merge_into,
    publish_overwrite,
    read_table,
)


def _setup(spark, tmp_path, n=20):
    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i * 10) for i in range(n)],
        "id long, grp string, v long",
    )
    publish_overwrite(spark, loc, df, ["grp"])
    cat.register_table(
        TableDef("db", "docs", loc, schema=df.schema, partition_keys=("grp",))
    )
    return cat, Engine(spark, cat), loc, df


def _recompute(spark, loc):
    return {
        (r.grp, r.n, r.total)
        for r in read_table(spark, loc)
        .groupBy("grp")
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
        .collect()
    }


def test_mv_refresh_equals_recompute_under_deletes(spark, tmp_path):
    cat, eng, loc, df = _setup(spark, tmp_path)
    eng.create_materialized_view(
        "db.docs_mv", "db.docs", ["grp"],
        {"n": ("count", None), "total": ("sum", "v")}, principal="ops",
    )
    # v2: tombstone delete; v3: update merge; v4: append incl. new group
    delete_rows_mor(spark, loc, "id < 4")
    upd = df.filter((F.col("grp") == "a") & (F.col("id") >= 10)).withColumn(
        "v", F.col("v") + 1
    )
    merge_into(spark, loc, upd, ["id"], ["grp"], collect_stats=False)
    append_rows(
        spark, loc,
        spark.createDataFrame([(100, "c", 7)], "id long, grp string, v long"),
        ["grp"],
    )
    out = eng.refresh_materialized_view("db.docs_mv", principal="ops")
    assert out["refreshed"]
    got = {
        (r.grp, r.n, r.total)
        for r in eng.sql("SELECT * FROM db.docs_mv", principal="ops").collect()
    }
    assert got == _recompute(spark, loc)
    # no-op refresh
    assert not eng.refresh_materialized_view("db.docs_mv", principal="ops")[
        "refreshed"
    ]


def test_mv_group_leaves_when_emptied_and_governance_applies(spark, tmp_path):
    cat, eng, loc, df = _setup(spark, tmp_path, n=6)
    eng.create_materialized_view(
        "db.docs_mv", "db.docs", ["grp"],
        {"n": ("count", None), "total": ("sum", "v")}, principal="ops",
    )
    delete_rows_mor(spark, loc, "grp = 'b'")  # empties group b
    eng.refresh_materialized_view("db.docs_mv", principal="ops")
    rows = eng.sql("SELECT * FROM db.docs_mv", principal="ops").collect()
    assert [r.grp for r in rows] == ["a"]
    # the MV is a governed table: row security applies to readers
    cat.create_data_cells_filter(
        DataCellsFilter(
            name="none", database="db", table="docs_mv",
            columns=("grp", "n", "total"), row_filter="grp = 'zzz'",
        )
    )
    cat.grant("analyst", "SELECT", "db", "docs_mv", via_filter="none")
    assert (
        eng.sql("SELECT * FROM db.docs_mv", principal="analyst").count() == 0
    )
    # and creation/refresh are operator actions
    with pytest.raises(PermissionDeniedError):
        eng.refresh_materialized_view("db.docs_mv", principal="analyst")
    denied = [
        e for e in cat.audit.events
        if "REFRESH MATERIALIZED VIEW" in e["query"]
        and e["status"] == "denied"
    ]
    assert denied


def test_mv_guards(spark, tmp_path):
    cat, eng, loc, df = _setup(spark, tmp_path)
    with pytest.raises(ValueError, match="count"):
        eng.create_materialized_view(
            "db.m1", "db.docs", ["grp"], {"total": ("sum", "v")},
            principal="ops",
        )
    with pytest.raises(ValueError, match="additive"):
        eng.create_materialized_view(
            "db.m2", "db.docs", ["grp"],
            {"n": ("count", None), "hi": ("max", "v")}, principal="ops",
        )
    eng.create_materialized_view(
        "db.m3", "db.docs", ["grp"], {"n": ("count", None)}, principal="ops"
    )
    with pytest.raises(ValueError, match="already exists"):
        eng.create_materialized_view(
            "db.m3", "db.docs", ["grp"], {"n": ("count", None)},
            principal="ops",
        )
    # erasure truncates source history -> incremental refresh refuses
    # with the re-create instruction (never silently serves stale state)
    delete_rows(spark, loc, "id = 1", partition_col="grp")
    with pytest.raises(ValueError, match="re-create"):
        eng.refresh_materialized_view("db.m3", principal="ops")


def test_mv_survives_catalog_reload(spark, tmp_path):
    cat, eng, loc, df = _setup(spark, tmp_path)
    eng.create_materialized_view(
        "db.docs_mv", "db.docs", ["grp"],
        {"n": ("count", None), "total": ("sum", "v")}, principal="ops",
    )
    cat.save()
    cat2 = GovernedCatalog.load(spark, cat.lake_root)
    assert cat2.governance_fingerprint() == cat.governance_fingerprint()
    eng2 = Engine(spark, cat2)
    append_rows(
        spark, loc,
        spark.createDataFrame([(100, "a", 5)], "id long, grp string, v long"),
        ["grp"],
    )
    out = eng2.refresh_materialized_view("db.docs_mv", principal="ops")
    assert out["refreshed"]
    got = {
        (r.grp, r.n, r.total)
        for r in eng2.sql("SELECT * FROM db.docs_mv", principal="ops").collect()
    }
    assert got == _recompute(spark, loc)


def test_mv_drop_and_recreate(spark, tmp_path):
    cat, eng, loc, df = _setup(spark, tmp_path)
    eng.create_materialized_view(
        "db.docs_mv", "db.docs", ["grp"],
        {"n": ("count", None), "total": ("sum", "v")}, principal="ops",
    )
    with pytest.raises(PermissionDeniedError):
        eng.drop_materialized_view("db.docs_mv", principal="analyst")
    eng.drop_materialized_view(
        "db.docs_mv", principal="ops", delete_data=True
    )
    assert "db.docs_mv" not in cat.mvs and "db.docs_mv" not in cat.tables
    # re-creation after the erasure instruction works
    eng.create_materialized_view(
        "db.docs_mv", "db.docs", ["grp"],
        {"n": ("count", None), "total": ("sum", "v")}, principal="ops",
    )
    got = {
        (r.grp, r.n, r.total)
        for r in eng.sql("SELECT * FROM db.docs_mv", principal="ops").collect()
    }
    assert got == _recompute(spark, loc)


def test_mv_watermark_is_atomic_with_state(spark, tmp_path):
    """The source-version watermark rides the MV manifest's own
    app_versions ledger — a second session with a STALE catalog def
    cannot double-apply the change feed (round-9 review #1)."""
    cat, eng, loc, df = _setup(spark, tmp_path)
    eng.create_materialized_view(
        "db.docs_mv", "db.docs", ["grp"],
        {"n": ("count", None), "total": ("sum", "v")}, principal="ops",
    )
    cat.save()
    # session B loads the catalog BEFORE A's refresh
    cat_b = GovernedCatalog.load(spark, cat.lake_root)
    eng_b = Engine(spark, cat_b)
    append_rows(
        spark, loc,
        spark.createDataFrame([(100, "a", 5)], "id long, grp string, v long"),
        ["grp"],
    )
    assert eng.refresh_materialized_view("db.docs_mv", principal="ops")[
        "refreshed"
    ]
    # B's def predates A's refresh — its refresh must be a NO-OP, not a
    # re-application of the same feed
    assert not eng_b.refresh_materialized_view("db.docs_mv", principal="ops")[
        "refreshed"
    ]
    got = {
        (r.grp, r.n, r.total)
        for r in eng_b.sql(
            "SELECT * FROM db.docs_mv", principal="ops"
        ).collect()
    }
    assert got == _recompute(spark, loc)


def test_rename_column_matches_mv_columns_case_insensitively(
    spark, tmp_path
):
    """SQL identifiers are case-insensitive: an MV grouping by "GRP"
    reads column grp, so RENAME COLUMN refuses exactly as DROP COLUMN
    does instead of breaking the MV's next refresh."""
    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i * 10, i % 3) for i in range(12)],
        "id long, grp string, v long, part int",
    )
    publish_overwrite(spark, loc, df, ["part"])
    cat.register_table(
        TableDef("db", "docs", loc, schema=df.schema, partition_keys=("part",))
    )
    eng = Engine(spark, cat)
    eng.create_materialized_view(
        "db.mv", "db.docs", ["GRP"], {"n": ("count", None)}, principal="ops"
    )
    with pytest.raises(ValueError, match="aggregates"):
        eng.sql("ALTER TABLE db.docs RENAME COLUMN grp TO grp2", "ops")
    with pytest.raises(ValueError, match="materialized view"):
        eng.sql("ALTER TABLE db.docs DROP COLUMN grp", "ops")
    assert cat.tables["db.docs"].schema.names == df.schema.names
    eng.refresh_materialized_view("db.mv", principal="ops")


def test_mv_fail_closed_interactions(spark, tmp_path):
    """Catalog objects cannot silently invalidate an MV: renaming an
    aggregated column refuses, dropping the source refuses, and
    re-creating over leftover state refuses (time travel on the old
    chain would serve pre-erasure aggregates)."""
    cat, eng, loc, df = _setup(spark, tmp_path)
    eng.create_materialized_view(
        "db.docs_mv", "db.docs", ["grp"],
        {"n": ("count", None), "total": ("sum", "v")}, principal="ops",
    )
    with pytest.raises(ValueError, match="aggregates"):
        cat.rename_column("db.docs", "v", "val")
    with pytest.raises(ValueError, match="drop them first"):
        cat.drop_table("db.docs")
    # global-aggregate scope guard
    with pytest.raises(ValueError, match="non-empty"):
        eng.create_materialized_view(
            "db.g", "db.docs", [], {"n": ("count", None)}, principal="ops"
        )
    # metadata-only drop leaves state files -> re-create refuses
    eng.drop_materialized_view("db.docs_mv", principal="ops")
    with pytest.raises(ValueError, match="leftover state"):
        eng.create_materialized_view(
            "db.docs_mv", "db.docs", ["grp"],
            {"n": ("count", None)}, principal="ops",
        )
    # a SAME-db cascade takes the MV def with it (its own table is in
    # the cascade); only a cross-db sourcing MV refuses the cascade
    cat.drop_database("db", cascade=True)
    assert cat.mvs == {} and "db.docs" not in cat.tables


def test_mv_streaming_restart_resume(spark, tmp_path):
    """Round-10: the streaming MV-maintenance sink (append_rows with a
    stream ledger + refresh per commit) survives a checkpoint LOSS —
    the full replay appends nothing and refreshes nothing; table and
    MV state are byte-identical to the first run's."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        read_manifest,
    )

    cat, eng, loc, df = _setup(spark, tmp_path)
    eng.create_materialized_view(
        "db.mv", "db.docs", ["grp"],
        {"n": ("count", None), "total": ("sum", "v")},
        principal="ops",
    )
    arriving = spark.createDataFrame(
        [(100 + i, "ab"[i % 2], i) for i in range(8)],
        "id long, grp string, v long",
    )
    src = str(tmp_path / "incoming")
    import os

    os.makedirs(src)
    for i in range(2):
        arriving.filter(F.col("id") % 2 == i).repartition(1).write.parquet(
            str(tmp_path / f"_t{i}")
        )
        import glob
        import shutil

        part = glob.glob(str(tmp_path / f"_t{i}" / "part-*.parquet"))[0]
        shutil.copy(part, f"{src}/batch{i}.parquet")

    def run(ckpt: str):
        def sink(batch, epoch_id):
            committed = append_rows(
                spark, loc, batch, partition_by=["grp"],
                stream_id="mvs", batch_id=epoch_id,
            )
            if committed is not None:
                eng.refresh_materialized_view("db.mv", principal="ops")

        (
            spark.readStream.schema(arriving.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run(str(tmp_path / "ckpt1"))
    v_first = read_manifest(loc)["version"]
    mv_first = {
        tuple(r) for r in eng.sql("SELECT * FROM db.mv", "ops").collect()
    }
    assert mv_first == _recompute(spark, loc)
    # checkpoint lost: full replay — ledger makes every batch a no-op
    run(str(tmp_path / "ckpt2"))
    assert read_manifest(loc)["version"] == v_first
    assert {
        tuple(r) for r in eng.sql("SELECT * FROM db.mv", "ops").collect()
    } == mv_first


def test_mv_approx_count_distinct_insert_only(spark, tmp_path):
    """HLL measure (round-10): sketch-of-union == union-of-sketches, so
    after insert-only feeds the incrementally-refreshed estimate equals
    the full-recompute estimate EXACTLY (same sketch algorithm, same
    lgK) — and tracks the true distinct count within HLL error."""
    cat, eng, loc, df = _setup(spark, tmp_path)
    # v column has duplicates across groups: true distincts per grp
    eng.create_materialized_view(
        "db.mv", "db.docs", ["grp"],
        {"n": ("count", None), "users": ("approx_count_distinct", "v")},
        principal="ops",
    )
    # state is view-fronted with the sketch stored
    assert "db.mv" in cat.views
    assert "__hll_users" in set(
        cat.tables["db.mv__state"].schema.fieldNames()
    )
    # two insert-only mutations: an append with overlapping + new values
    append_rows(
        spark, loc,
        spark.createDataFrame(
            [(100 + i, "ab"[i % 2], (i % 7) * 10) for i in range(14)],
            "id long, grp string, v long",
        ),
        partition_by=["grp"],
    )
    r = eng.refresh_materialized_view("db.mv", principal="ops")
    assert r["refreshed"]
    got = {
        x.grp: (x.n, x.users)
        for x in eng.sql("SELECT * FROM db.mv", "ops").collect()
    }
    # exact sketch equality vs recompute
    want = {
        x.grp: (x.n, x.users)
        for x in read_table(spark, loc)
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.hll_sketch_estimate(F.hll_sketch_agg("v")).alias("users"),
        )
        .collect()
    }
    assert got == want
    # and the estimate is exact at this tiny cardinality
    true = {
        x.grp: x.d
        for x in read_table(spark, loc)
        .groupBy("grp")
        .agg(F.countDistinct("v").alias("d"))
        .collect()
    }
    for g in true:
        assert got[g][1] == true[g], (g, got[g], true[g])


def test_mv_approx_count_distinct_fail_closed_on_deletes(spark, tmp_path):
    cat, eng, loc, df = _setup(spark, tmp_path)
    eng.create_materialized_view(
        "db.mv", "db.docs", ["grp"],
        {"n": ("count", None), "users": ("approx_count_distinct", "v")},
        principal="ops",
    )
    delete_rows_mor(spark, loc, "id % 3 = 0")
    with pytest.raises(ValueError, match="cannot subtract"):
        eng.refresh_materialized_view("db.mv", principal="ops")
    # plain count/sum MVs on the same source still refresh fine
    eng.create_materialized_view(
        "db.mv2", "db.docs", ["grp"], {"n": ("count", None)},
        principal="ops",
    )


def test_mv_filtered_source_boundary_crossing(spark, tmp_path):
    """Round-10 WHERE increment: the filter applies identically to the
    creation scan and the signed feed, so an UPDATE that moves rows
    ACROSS the predicate boundary (in both directions) keeps filtered
    refresh == filtered recompute exactly."""
    cat, eng, loc, df = _setup(spark, tmp_path)
    eng.create_materialized_view(
        "db.mv", "db.docs", ["grp"],
        {"n": ("count", None), "total": ("sum", "v")},
        principal="ops", where="v >= 100",
    )
    # move rows across the boundary both ways: ids 2,4 (v 20,40 -> +100,
    # entering) and ids 12,14 (v 120,140 -> -100, leaving); delete one
    # matching row outright (id 18, v 180)
    merge_into(
        spark, loc,
        spark.createDataFrame(
            [(2, "a", 120), (4, "a", 140), (12, "a", 20), (14, "a", 40)],
            "id long, grp string, v long",
        ),
        ["id"], ["grp"], collect_stats=False,
    )
    delete_rows_mor(spark, loc, "id = 18")
    r = eng.refresh_materialized_view("db.mv", principal="ops")
    assert r["refreshed"]
    got = {
        (x.grp, x.n, x.total)
        for x in eng.sql("SELECT * FROM db.mv", "ops").collect()
    }
    want = {
        (x.grp, x.n, x.total)
        for x in read_table(spark, loc)
        .filter(F.col("v") >= 100)
        .groupBy("grp")
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    assert got == want
    # reload persistence carries the filter
    cat.save()
    from tf_aws_lakeformation_governed_datalake_demo_spark import (
        GovernedCatalog as GC,
    )

    cat2 = GC.load(spark, cat.lake_root)
    assert cat2.mvs["db.mv"].where == "v >= 100"


def test_mv_enriched_dim_drift_fail_closes(spark, tmp_path):
    """Enriched MV (round-10): refresh joins the feed against the
    PINNED dimension snapshot; a moved dimension fail-closes with the
    re-create cure, and dropping the dimension is refused while the
    MV lives."""
    cat, eng, loc, df = _setup(spark, tmp_path)
    dim = spark.createDataFrame(
        [("a", "north"), ("b", "south")], "grp string, region string"
    )
    dloc = f"{cat.lake_root}/dim"
    publish_overwrite(spark, dloc, dim, None)
    cat.register_table(TableDef("db", "dim", dloc, schema=dim.schema))
    eng.create_materialized_view(
        "db.mv", "db.docs", ["region"],
        {"n": ("count", None), "total": ("sum", "v")},
        principal="ops",
        enrich={"table": "db.dim", "on": {"grp": "grp"},
                "select": ["region"]},
    )
    # fact-only mutation refreshes exactly (join against the pin)
    append_rows(
        spark, loc,
        spark.createDataFrame(
            [(100, "a", 1000), (101, "b", 2000)],
            "id long, grp string, v long",
        ),
        partition_by=["grp"],
    )
    eng.refresh_materialized_view("db.mv", principal="ops")
    got = {
        (x.region, x.n, x.total)
        for x in eng.sql("SELECT * FROM db.mv", "ops").collect()
    }
    want = {
        (x.region, x.n, x.total)
        for x in read_table(spark, loc)
        .join(dim, "grp", "left")
        .groupBy("region")
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    assert got == want
    # dimension drift -> fail-closed refresh
    append_rows(
        spark, dloc,
        spark.createDataFrame([("c", "east")], "grp string, region string"),
    )
    append_rows(
        spark, loc,
        spark.createDataFrame([(102, "a", 1)], "id long, grp string, v long"),
        partition_by=["grp"],
    )
    with pytest.raises(ValueError, match="moved to v2"):
        eng.refresh_materialized_view("db.mv", principal="ops")
    # dropping the dimension is refused while the MV lives
    with pytest.raises(ValueError, match="enrich dimension"):
        cat.drop_table("db.dim")
    # persistence carries the enrich def
    cat.save()
    from tf_aws_lakeformation_governed_datalake_demo_spark import (
        GovernedCatalog as GC,
    )

    assert GC.load(spark, cat.lake_root).mvs["db.mv"].enrich["table"] == "db.dim"


def test_mv_enrich_join_is_broadcast(spark, tmp_path):
    """Scale pin: the enrich dimension must broadcast — a fact x dim
    shuffle join at 100 TB would shuffle the fact on the join key for
    a dimension that fits in memory by definition."""
    cat, eng, loc, df = _setup(spark, tmp_path)
    dim = spark.createDataFrame(
        [("a", "north"), ("b", "south")], "grp string, region string"
    )
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources import (
        read_table,
    )

    dloc = f"{cat.lake_root}/dim"
    publish_overwrite(spark, dloc, dim, None)
    cat.register_table(TableDef("db", "dim", dloc, schema=dim.schema))
    fact = read_table(spark, loc)
    joined = eng._mv_enrich(
        fact,
        {"table": "db.dim", "on": {"grp": "grp"}, "select": ["region"]},
        1,
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


# ------------------------------- transparent MV rewrite (round 11)
def _mv_rewrite_setup(spark, tmp_path):
    """MV on (grp, sub) with count/sum/avg; current (refreshed)."""
    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], "xy"[i % 3 == 0], i * 10) for i in range(24)],
        "id long, grp string, sub string, v long",
    )
    publish_overwrite(spark, loc, df, ["grp"])
    cat.register_table(
        TableDef("db", "docs", loc, schema=df.schema, partition_keys=("grp",))
    )
    eng = Engine(spark, cat)
    eng.create_materialized_view(
        "db.docs_mv", "db.docs", ["grp", "sub"],
        {"n": ("count", None), "total": ("sum", "v"), "av": ("avg", "v")},
        principal="ops",
    )
    return cat, eng, loc, df


_REWRITE_SQL = (
    "SELECT grp, count(*) AS n, sum(v) AS total, avg(v) AS av "
    "FROM db.docs GROUP BY grp"
)


def _agg_rows(df):
    return {
        (r.grp, int(r.n), int(r.total), float(r.av)) for r in df.collect()
    }


def test_mv_rewrite_serves_state_never_scans_source(spark, tmp_path):
    cat, eng, loc, df = _mv_rewrite_setup(spark, tmp_path)
    served = eng.sql(_REWRITE_SQL, "ops", use_mvs=True)
    files = served.inputFiles()
    # plan pin: every scanned file is MV state; the source was never read
    assert files and all("/_mv/" in f for f in files), files[:3]
    direct = eng.sql(_REWRITE_SQL, "ops")
    assert any(loc in f for f in direct.inputFiles())
    assert _agg_rows(served) == _agg_rows(direct)
    # the audit/filters trail names the serving MV
    qe = [
        e for e in eng.executions.values()
        if "MV_REWRITE:db.docs_mv" in e.filters_applied
    ]
    assert qe and qe[0].tables == ["db.docs", "db.docs_mv"]
    # WHERE on a group column is served from the state too
    w = eng.sql(_REWRITE_SQL + " -- x", "ops", use_mvs=True)  # cache-buster
    assert all("/_mv/" in f for f in w.inputFiles())
    where_served = eng.sql(
        "SELECT grp, count(*) AS n, sum(v) AS total, avg(v) AS av "
        "FROM db.docs WHERE grp = 'a' GROUP BY grp",
        "ops",
        use_mvs=True,
    )
    assert all("/_mv/" in f for f in where_served.inputFiles())
    assert _agg_rows(where_served) == {
        r for r in _agg_rows(direct) if r[0] == "a"
    }


def test_mv_rewrite_staleness_fails_open(spark, tmp_path):
    cat, eng, loc, df = _mv_rewrite_setup(spark, tmp_path)
    # source moves past the MV watermark
    append_rows(
        spark, loc,
        spark.createDataFrame(
            [(1000, "a", "x", 7)], "id long, grp string, sub string, v long"
        ),
        ["grp"],
    )
    stale = eng.sql(_REWRITE_SQL, "ops", use_mvs=True)
    # fail OPEN: the reader gets fresh data from the source scan
    assert any(loc in f for f in stale.inputFiles())
    assert _agg_rows(stale) == _agg_rows(eng.sql(_REWRITE_SQL, "ops"))
    # explicit opt-in serves the stale state instead
    allowed = eng.sql(
        _REWRITE_SQL, "ops", use_mvs=True, mv_allow_stale=True
    )
    assert all("/_mv/" in f for f in allowed.inputFiles())
    # after a refresh the rewrite serves again
    eng.refresh_materialized_view("db.docs_mv", principal="ops")
    again = eng.sql(_REWRITE_SQL, "ops", use_mvs=True)
    assert all("/_mv/" in f for f in again.inputFiles())
    assert _agg_rows(again) == _agg_rows(eng.sql(_REWRITE_SQL, "ops"))


def test_mv_rewrite_governance_fallbacks(spark, tmp_path):
    cat, eng, loc, df = _mv_rewrite_setup(spark, tmp_path)
    from tf_aws_lakeformation_governed_datalake_demo_spark.governance import (
        ALL, SELECT,
    )

    cat.grant("writer", ALL, "db", "docs")
    cat.create_data_cells_filter(
        DataCellsFilter(
            name="a-only", database="db", table="docs",
            columns=("id", "grp", "sub", "v"), row_filter="grp = 'a'",
        )
    )
    cat.grant("filtered", SELECT, "db", "docs", via_filter="a-only")
    # unconditioned ALL: served from state
    full = eng.sql(_REWRITE_SQL, "writer", use_mvs=True)
    assert all("/_mv/" in f for f in full.inputFiles())
    # conditioned principal: falls back to the governed scan — the MV
    # state aggregates rows outside their row filter
    filt = eng.sql(_REWRITE_SQL, "filtered", use_mvs=True)
    assert any(loc in f for f in filt.inputFiles())
    assert {r[0] for r in _agg_rows(filt)} == {"a"}
    # no grant at all: implicit deny, not a silent state read
    with pytest.raises(PermissionDeniedError):
        eng.sql(_REWRITE_SQL, "nobody", use_mvs=True)


def test_mv_rewrite_ineligible_shapes_fall_back(spark, tmp_path):
    cat, eng, loc, df = _mv_rewrite_setup(spark, tmp_path)
    src = lambda q: any(  # noqa: E731
        loc in f for f in eng.sql(q, "ops", use_mvs=True).inputFiles()
    )
    # group-by outside the MV's set
    assert src("SELECT id, count(*) AS n FROM db.docs GROUP BY id")
    # measure not derivable (min)
    assert src("SELECT grp, min(v) AS m FROM db.docs GROUP BY grp")
    # WHERE on a non-group column
    assert src(
        "SELECT grp, count(*) AS n FROM db.docs WHERE v > 50 GROUP BY grp"
    )
    # WHERE with a function call
    assert src(
        "SELECT grp, count(*) AS n FROM db.docs "
        "WHERE upper(grp) = 'A' GROUP BY grp"
    )
    # HAVING is not the servable shape (ORDER BY/LIMIT now are —
    # test_mv_rewrite_orderby_limit_and_filtered_mv)
    assert src(
        "SELECT grp, count(*) AS n FROM db.docs GROUP BY grp HAVING n > 1"
    )
    # approx_count_distinct never serves (HLL++ vs Datasketches)
    assert src(
        "SELECT grp, approx_count_distinct(v) AS d FROM db.docs "
        "GROUP BY grp"
    )
    # and without the opt-in nothing rewrites
    plain = eng.sql(_REWRITE_SQL, "ops")
    assert any(loc in f for f in plain.inputFiles())


# ------------------- HLL refresh insert-only fast path (round 11)
def test_feed_may_delete_manifest_level(spark, tmp_path):
    from tf_aws_lakeformation_governed_datalake_demo_spark.sources.lake import (
        feed_may_delete,
    )

    loc = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i) for i in range(8)],
        "id long, grp string, v long",
    )
    publish_overwrite(spark, loc, df, ["grp"])  # v1
    append_rows(
        spark, loc,
        spark.createDataFrame([(100, "a", 1)], "id long, grp string, v long"),
        ["grp"],
    )  # v2
    append_rows(
        spark, loc,
        spark.createDataFrame([(101, "b", 2)], "id long, grp string, v long"),
        ["grp"],
    )  # v3
    # append-only chains are EXACTLY insert-only
    assert feed_may_delete(loc, 1, 3) is False
    # a rewrite removes files -> may delete
    merge_into(
        spark, loc,
        spark.createDataFrame([(0, "a", 99)], "id long, grp string, v long"),
        ["id"], ["grp"], collect_stats=False,
    )  # v4
    assert feed_may_delete(loc, 3, 4) is True
    # a MoR tombstone changes coverage without changing the file set
    delete_rows_mor(spark, loc, "id = 2")  # v5
    assert feed_may_delete(loc, 4, 5) is True
    # unreadable history answers conservatively
    assert feed_may_delete(loc, 0, 5) is True


def test_hll_refresh_append_only_skips_probe_job(spark, tmp_path, monkeypatch):
    """Round-10 VERDICT #3: an append-only HLL MV refresh must not pay
    the per-refresh delete-probe Spark job — the manifest answers
    driver-side. Pinned by counting DataFrame.count() invocations
    during the refresh: zero on the append-only feed, one (the probe)
    once the chain may delete."""
    # Spark 4: instances are the classic concrete class, which
    # OVERRIDES the abstract pyspark.sql.DataFrame methods — patch it
    from pyspark.sql.classic.dataframe import DataFrame

    cat, eng, loc, df = _setup(spark, tmp_path)
    eng.create_materialized_view(
        "db.docs_mv", "db.docs", ["grp"],
        {"n": ("count", None), "users": ("approx_count_distinct", "v")},
        principal="ops",
    )
    append_rows(
        spark, loc,
        spark.createDataFrame([(200, "a", 5)], "id long, grp string, v long"),
        ["grp"],
    )
    calls = []
    real_count = DataFrame.count
    monkeypatch.setattr(
        DataFrame, "count", lambda self: (calls.append(1), real_count(self))[1]
    )
    out = eng.refresh_materialized_view("db.docs_mv", principal="ops")
    assert out["refreshed"]
    assert calls == [], f"append-only refresh ran {len(calls)} count job(s)"
    # a deleting chain still fail-closes (the probe runs and decides)
    delete_rows_mor(spark, loc, "id = 1")
    with pytest.raises(ValueError, match="cannot subtract"):
        eng.refresh_materialized_view("db.docs_mv", principal="ops")
    assert len(calls) >= 1  # the probe job ran this time


def test_mv_rewrite_orderby_limit_and_filtered_mv(spark, tmp_path):
    """Round-11 second half: ORDER BY/LIMIT tails serve from the state,
    and a FILTERED MV serves exactly the query carrying its own WHERE
    text (normalized), nothing else."""
    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    df = spark.createDataFrame(
        [(i, "abcd"[i % 4], i * 10) for i in range(40)],
        "id long, grp string, v long",
    )
    publish_overwrite(spark, loc, df, ["grp"])
    cat.register_table(
        TableDef("db", "docs", loc, schema=df.schema, partition_keys=("grp",))
    )
    eng = Engine(spark, cat)
    eng.create_materialized_view(
        "db.top_mv", "db.docs", ["grp"],
        {"n": ("count", None), "total": ("sum", "v")}, principal="ops",
    )
    # ORDER BY a measure alias + LIMIT: the dashboard top-k shape
    q = ("SELECT grp, count(*) AS n, sum(v) AS total FROM db.docs "
         "GROUP BY grp ORDER BY total DESC, grp LIMIT 2")
    served = eng.sql(q, "ops", use_mvs=True)
    assert all("/_mv/" in f for f in served.inputFiles())
    direct = eng.sql(q, "ops")
    assert [tuple(r) for r in served.collect()] == [
        tuple(r) for r in direct.collect()
    ]
    # an expression sort key is not the servable shape
    notserved = eng.sql(
        "SELECT grp, count(*) AS n FROM db.docs GROUP BY grp "
        "ORDER BY n + 1 LIMIT 2",
        "ops",
        use_mvs=True,
    )
    assert any(loc in f for f in notserved.inputFiles())

    # filtered MV: serves the textually-identical WHERE only
    eng.create_materialized_view(
        "db.big_mv", "db.docs", ["grp"],
        {"n": ("count", None), "total": ("sum", "v")},
        principal="ops", where="v >= 100",
    )
    fq = ("SELECT grp, count(*) AS n, sum(v) AS total FROM db.docs "
          "WHERE  V >=   100 GROUP BY grp")  # case/space-normalized match
    fserved = eng.sql(fq, "ops", use_mvs=True)
    assert all("/_mv/" in f for f in fserved.inputFiles())
    fdirect = eng.sql(fq, "ops")
    assert _mv_rows(fserved) == _mv_rows(fdirect)
    # a DIFFERENT predicate must not be served by the filtered MV
    other = eng.sql(
        "SELECT grp, count(*) AS n, sum(v) AS total FROM db.docs "
        "WHERE v >= 200 GROUP BY grp",
        "ops",
        use_mvs=True,
    )
    assert any(loc in f for f in other.inputFiles())


def _mv_rows(df):
    return {(r.grp, int(r.n), int(r.total)) for r in df.collect()}


def test_mv_state_mutation_refused(spark, tmp_path):
    """Row-mutation verbs must not corrupt derived MV state (round-11
    self-review): INSERT/MERGE/UPDATE/DELETE on the MV name or its
    __state table refuse loudly; layout-only OPTIMIZE stays allowed."""
    cat, eng, loc, df = _setup(spark, tmp_path)
    eng.create_materialized_view(
        "db.docs_mv", "db.docs", ["grp"],
        {"n": ("count", None), "av": ("avg", "v")}, principal="ops",
    )
    for stmt in (
        "INSERT INTO db.docs_mv__state VALUES ('x', 1, 1, 1)",
        "UPDATE db.docs_mv__state SET n = 0 WHERE TRUE",
        "DELETE FROM db.docs_mv__state WHERE TRUE",
        "MERGE INTO db.docs_mv__state AS t USING (SELECT * FROM "
        "db.docs_mv__state) AS s ON t.grp = s.grp "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    ):
        with pytest.raises(ValueError, match="state is derived"):
            eng.sql(stmt, "ops")
    with pytest.raises(ValueError, match="state is derived"):
        eng.maintain("db.docs_mv__state", "delete_rows", "ops",
                     predicate="TRUE")
    # layout-only maintenance is allowed on the state table
    res = eng.maintain("db.docs_mv__state", "optimize_binpack", "ops")
    assert "files_after" in res


def test_mv_rewrite_stale_result_not_shared_via_reuse_cache(spark, tmp_path):
    """An allow-stale MV-served result must never be served from the
    L7 reuse cache to a caller who did not opt into staleness (the
    table-fingerprint check compares against PRODUCTION-time storage,
    so it cannot catch a source that moved BEFORE production)."""
    cat, eng, loc, df = _mv_rewrite_setup(spark, tmp_path)
    append_rows(
        spark, loc,
        spark.createDataFrame(
            [(1000, "a", "x", 7)], "id long, grp string, sub string, v long"
        ),
        ["grp"],
    )  # source now ahead of the MV watermark
    stale = eng.sql(
        _REWRITE_SQL, "ops", reuse_max_age=3600,
        use_mvs=True, mv_allow_stale=True,
    )
    fresh = eng.sql(_REWRITE_SQL, "ops", reuse_max_age=3600)
    assert _agg_rows(stale) != _agg_rows(fresh)  # genuinely different
    # the fresh caller did NOT get the cached stale result
    assert any(loc in f for f in fresh.inputFiles())


def test_filtered_mv_residual_prover():
    """Unit pins on the restricted implication prover (round-12): the
    exact set of provable shapes, and refusal of everything else."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.statements import (
        filtered_mv_residual as fr,
    )

    g = ("grp", "sub", "tier")
    # textual equality (case/space-normalized; literals byte-exact)
    assert fr("v >= 100", "V  >=  100", g) == ""
    assert fr("grp = 'DE'", "grp = 'DE'", g) == ""
    assert fr("grp = 'DE'", "grp = 'de'", g) is None  # literal is data
    # conjunct-set equality modulo order
    assert fr("a = 1 AND b = 2", "b = 2 AND a = 1", g) == ""
    # conjunction superset: extra conjuncts on group columns serve
    assert fr("v >= 100 AND grp = 'a'", "v >= 100", g) == "grp = 'a'"
    assert (
        fr("v >= 100 AND grp = 'a' AND sub = 'x'", "v >= 100", g)
        == "grp = 'a' AND sub = 'x'"
    )
    # numeric range subsumption on a group column
    assert fr("tier > 7", "tier >= 5", g) == "tier > 7"
    assert fr("tier >= 5", "tier >= 5.0", g) == "tier >= 5"
    assert fr("tier = 9", "tier > 5", g) == "tier = 9"
    assert fr("tier < 3", "tier <= 10", g) == "tier < 3"
    # NOT implied: wider or disjoint ranges
    assert fr("tier > 3", "tier >= 5", g) is None
    assert fr("tier >= 5", "tier > 5", g) is None
    # query without WHERE wants MORE than the MV slice
    assert fr(None, "v >= 100", g) is None
    # query that is a strict SUBSET of the MV conjuncts (wants more rows)
    assert fr("v >= 100", "v >= 100 AND grp = 'a'", g) is None
    # group-column IN-list of literals: a sound finite disjunction —
    # served as a residual that filters the state (round-13)
    assert fr("v >= 100 AND grp IN ('a', 'b')", "v >= 100", g) == (
        "grp IN ('a', 'b')"
    )
    assert fr("v >= 100 AND tier IN (1, 3)", "v >= 100", g) == (
        "tier IN (1, 3)"
    )
    # literal containing AND inside the list must not split the conjunct
    assert fr("v >= 100 AND grp IN ('x and y', 'b')", "v >= 100", g) == (
        "grp IN ('x and y', 'b')"
    )
    # IN refusals: non-group column, subquery, function call, NOT IN,
    # exponent literals (identifier-scan hazard — fail closed)
    assert fr("v >= 100 AND w IN ('a')", "v >= 100", g) is None
    assert fr("v >= 100 AND grp IN (SELECT g FROM t)", "v >= 100", g) is None
    assert fr("v >= 100 AND upper(grp) IN ('A')", "v >= 100", g) is None
    assert fr("v >= 100 AND grp NOT IN ('a')", "v >= 100", g) is None
    assert fr("v >= 100 AND tier IN (1e5)", "v >= 100", g) is None
    # refusals: OR, NOT, functions, non-group residual,
    # string ranges (collation), qualified refs
    assert fr("v >= 100 OR grp = 'a'", "v >= 100", g) is None
    assert fr("v >= 100 AND NOT grp = 'a'", "v >= 100", g) is None
    assert fr("v >= 100 AND upper(grp) = 'A'", "v >= 100", g) is None
    assert fr("v >= 100 AND w = 3", "v >= 100", g) is None  # w not grouped
    assert fr("grp > 'a'", "grp >= 'a'", g) is None  # string range
    assert fr("v >= 100 AND t.grp = 'a'", "v >= 100", g) is None
    # literal containing AND/parens must not confuse the splitter
    assert fr("v >= 100 AND grp = 'x AND (y'", "v >= 100", g) == (
        "grp = 'x AND (y'"
    )


def test_mv_rewrite_filtered_implication_serves_and_refuses(spark, tmp_path):
    """Round-12: a filtered MV serves the provably-tighter query — the
    slice-plus-extra-group-conjunct shape and same-column numeric range
    subsumption — and still falls back on everything unprovable."""
    lake = str(tmp_path / "lake")
    cat = GovernedCatalog(spark, lake_root=lake)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{lake}/docs"
    df = spark.createDataFrame(
        [(i, "abcd"[i % 4], i % 5, i * 10) for i in range(40)],
        "id long, grp string, tier long, v long",
    )
    publish_overwrite(spark, loc, df, ["grp"])
    cat.register_table(
        TableDef("db", "docs", loc, schema=df.schema, partition_keys=("grp",))
    )
    eng = Engine(spark, cat)
    eng.create_materialized_view(
        "db.big_mv", "db.docs", ["grp", "tier"],
        {"n": ("count", None), "total": ("sum", "v")},
        principal="ops", where="v >= 100",
    )
    # extra conjunct on a group column: served, filtered to the residual
    q1 = ("SELECT grp, count(*) AS n, sum(v) AS total FROM db.docs "
          "WHERE v >= 100 AND grp = 'a' GROUP BY grp")
    served = eng.sql(q1, "ops", use_mvs=True)
    assert all("/_mv/" in f for f in served.inputFiles())
    assert _mv_rows(served) == _mv_rows(eng.sql(q1, "ops"))
    # range subsumption on a numeric GROUP column: tier > 2 vs no MV
    # tier conjunct is just a residual; tighter v is NOT provable
    q2 = ("SELECT grp, count(*) AS n, sum(v) AS total FROM db.docs "
          "WHERE v >= 100 AND tier >= 3 GROUP BY grp")
    s2 = eng.sql(q2, "ops", use_mvs=True)
    assert all("/_mv/" in f for f in s2.inputFiles())
    assert _mv_rows(s2) == _mv_rows(eng.sql(q2, "ops"))
    # group-column IN-list residual (round-13): served by filtering
    # the state with the same finite disjunction
    q3 = ("SELECT grp, count(*) AS n, sum(v) AS total FROM db.docs "
          "WHERE v >= 100 AND grp IN ('a', 'b') GROUP BY grp")
    s3 = eng.sql(q3, "ops", use_mvs=True)
    assert all("/_mv/" in f for f in s3.inputFiles())
    assert _mv_rows(s3) == _mv_rows(eng.sql(q3, "ops"))
    # unprovable shapes fall back to the source scan
    for q in (
        # IN on a non-group column
        "SELECT grp, count(*) AS n FROM db.docs "
        "WHERE v >= 100 AND id IN (1, 2) GROUP BY grp",
        # NOT IN (top-level NOT refuses)
        "SELECT grp, count(*) AS n FROM db.docs "
        "WHERE v >= 100 AND grp NOT IN ('a') GROUP BY grp",
        # tighter on the FILTER column (not in state)
        "SELECT grp, count(*) AS n FROM db.docs "
        "WHERE v >= 200 AND grp = 'a' GROUP BY grp",
        # OR at the top level
        "SELECT grp, count(*) AS n FROM db.docs "
        "WHERE v >= 100 OR grp = 'a' GROUP BY grp",
        # function call in the residual
        "SELECT grp, count(*) AS n FROM db.docs "
        "WHERE v >= 100 AND upper(grp) = 'A' GROUP BY grp",
        # residual on a non-group column
        "SELECT grp, count(*) AS n FROM db.docs "
        "WHERE v >= 100 AND id > 5 GROUP BY grp",
    ):
        fell_back = eng.sql(q, "ops", use_mvs=True)
        assert any(loc in f for f in fell_back.inputFiles()), q


def test_filtered_mv_residual_refuses_between():
    """BETWEEN's internal AND must not shear a conjunct into fragments
    (round-12 self-review): any BETWEEN refuses the implication path
    entirely; an exact textual match still serves (normalization runs
    before splitting)."""
    from tf_aws_lakeformation_governed_datalake_demo_spark.statements import (
        filtered_mv_residual as fr,
    )

    g = ("grp", "tier")
    assert fr("v >= 100 AND tier BETWEEN 1 AND 3", "v >= 100", g) is None
    assert fr("tier BETWEEN 1 AND 3", "tier BETWEEN 1 AND 5", g) is None
    # exact match (case/space-normalized) still serves
    assert fr("tier BETWEEN 1 AND 5", "tier  between 1 AND 5", g) == ""
