"""Lake maintenance operators: snapshot change-data-capture diff and
incremental materialized-aggregate refresh.

The reference's lake is append/overwrite parquet governed by a catalog
(main.tf:330-371 declares the tables; its demo pipeline re-uploads whole
snapshots). At 100 TB neither consumers nor maintenance jobs can afford
whole-table recomputation, so the two operators every production lake
grows next are:

- ``lake_table_diff`` — given two committed snapshots of a keyed table,
  emit the row-level change feed (insert / update / delete) that turns
  one into the other. This is the CDC feed Delta calls Change Data Feed
  and warehouses call a snapshot diff; on plain parquet it is one
  co-partitioned full outer join.
- ``lake_incremental_agg_refresh`` — maintain a materialized aggregate
  under late-arriving data by merging a delta-batch aggregate into the
  stored aggregate, touching O(|delta| + |MV|) instead of rescanning the
  ingested corpus. The oracle IS the full recompute, so the driver's
  hash check proves merge == recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir
from ..sources import load
from .registry import _require, query


_TABLE_DIFF_ORACLE = """
    WITH v1 AS (SELECT c_custkey, c_acctbal FROM customer
                WHERE c_custkey <= 200),
    v2 AS (SELECT c_custkey,
                  CASE WHEN c_custkey <= 50 THEN c_acctbal + 25
                       ELSE c_acctbal END AS c_acctbal
           FROM customer WHERE c_custkey <= 190
           UNION ALL
           SELECT c_custkey, c_acctbal FROM customer
           WHERE c_custkey BETWEEN 201 AND 210)
    SELECT coalesce(a.c_custkey, b.c_custkey) AS c_custkey,
           CASE WHEN a.c_custkey IS NULL THEN 'insert'
                WHEN b.c_custkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           round(a.c_acctbal, 2) AS acctbal_old,
           round(b.c_acctbal, 2) AS acctbal_new
    FROM v1 a FULL JOIN v2 b ON a.c_custkey = b.c_custkey
    WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL
       OR a.c_acctbal IS DISTINCT FROM b.c_acctbal
"""


@query(
    "lake_table_diff",
    _TABLE_DIFF_ORACLE,
    "Snapshot CDC diff on the plain-parquet lake: two committed versions "
    "of a keyed dimension full-outer-joined on the key, emitting the "
    "row-level insert/update/delete feed that turns v1 into v2 "
    "(unchanged rows are eliminated by null-safe value comparison). The "
    "oracle replays the declared v1->v2 edit script from the base table: "
    "keys <= 50 update (+25), 191-200 delete, 201-210 insert.",
)
def lake_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed between two committed snapshots — what Delta
    exposes as Change Data Feed, recovered here from plain parquet.

    Scale: ONE full outer join on the table key; with both snapshots
    written partitioned/bucketed on the key (write_partitioned /
    lake_zorder_scan layouts) the join is co-partitioned and prunes to
    partitions present in either side. Unchanged rows — the overwhelming
    majority of a 100 TB snapshot pair — are dropped by a null-safe
    column comparison evaluated inside the join's codegen stage, before
    any wide output row materializes. Wide dimensions would compare one
    md5 row-hash per side (computed at write time and stored) instead of
    N column equalities; with 2 payload columns the direct comparison is
    cheaper. Emitted change rows feed lake_incremental_agg_refresh-style
    incremental consumers downstream.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    v1 = c.filter(F.col("c_custkey") <= 200)
    v2 = (
        c.filter(F.col("c_custkey") <= 190)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") <= 50, F.col("c_acctbal") + 25)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionByName(c.filter(F.col("c_custkey").between(201, 210)))
    )
    base = scratch_dir("table_diff_")
    v1.write.parquet(f"{base}/v1")
    v2.write.parquet(f"{base}/v2")
    a = spark.read.schema(v1.schema).parquet(f"{base}/v1").alias("a")
    b = spark.read.schema(v1.schema).parquet(f"{base}/v2").alias("b")
    joined = a.join(b, F.col("a.c_custkey") == F.col("b.c_custkey"), "full_outer")
    return joined.filter(
        F.col("a.c_custkey").isNull()
        | F.col("b.c_custkey").isNull()
        | ~F.col("a.c_acctbal").eqNullSafe(F.col("b.c_acctbal"))
    ).select(
        F.coalesce(F.col("a.c_custkey"), F.col("b.c_custkey")).alias("c_custkey"),
        F.when(F.col("a.c_custkey").isNull(), "insert")
        .when(F.col("b.c_custkey").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        F.round(F.col("a.c_acctbal"), 2).alias("acctbal_old"),
        F.round(F.col("b.c_acctbal"), 2).alias("acctbal_new"),
    )


# Late-arriving delta: every 7th event arrives after the MV was built.
_DELTA_PRED = "event_id % 7 = 0"

_INCR_REFRESH_ORACLE = """
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 2)
             AS total_value
    FROM events GROUP BY 1, 2
"""


@query(
    "lake_incremental_agg_refresh",
    _INCR_REFRESH_ORACLE,
    "Incremental materialized-aggregate maintenance: a per-(type, day) "
    "count/sum MV built from the already-ingested corpus is refreshed by "
    "MERGING the aggregate of a late-arriving delta batch (every 7th "
    "event) — full outer join on the group keys, coalesced partial sums. "
    "The oracle is the FULL recompute over all events, so the driver "
    "hash check proves merge == recompute exactly (value sums are "
    "1e-6-scaled integers, so partial+partial == total is order-free).",
)
def lake_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O(delta) maintenance path every event lake needs: refreshing
    a stored aggregate must cost the delta scan plus an |MV|-sized
    merge, never a rescan of the ingested corpus.

    Scale: the MV is orders of magnitude smaller than its base (here
    (type, day) cells vs raw events; at 100 TB, millions of cells vs
    trillions of rows). The delta aggregates with map-side partial
    combine, then merges into the MV with one full outer join on the
    group keys — partition the stored MV by day and the merge prunes to
    the days the delta actually touched (the lake_merge_upsert
    discipline). Additive aggregates (count/sum; avg as sum+count,
    min/max for inserts-only) refresh this way; the value sums are
    stored as 1e-6-scaled BIGINTs so partial-sum merging is exact and
    associativity-free — the MV never drifts from the recompute no
    matter how many refresh generations it accumulates.
    """
    e = load(spark, sf_dir, "events")
    lv = F.round(F.col("value") * 1000000).cast("long")
    delta_pred = F.col("event_id") % 7 == 0
    day = F.to_date("ts").alias("day")

    def agg(df):
        return (
            df.select("event_type", day, lv.alias("lv"))
            .groupBy("event_type", "day")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("lv").cast("long").alias("sv"),
            )
        )

    mv_path = scratch_dir("incr_mv_") + "/mv"
    base_agg = agg(e.filter(~delta_pred))
    base_agg.write.parquet(mv_path)
    # declared-schema read (the catalog-backed at-scale path): the
    # refresh job never pays footer scans on the stored MV
    mv = spark.read.schema(base_agg.schema).parquet(mv_path).alias("m")
    d = agg(e.filter(delta_pred)).alias("d")
    merged = mv.join(
        d,
        (F.col("m.event_type") == F.col("d.event_type"))
        & (F.col("m.day") == F.col("d.day")),
        "full_outer",
    ).select(
        F.coalesce(F.col("m.event_type"), F.col("d.event_type")).alias("event_type"),
        F.coalesce(F.col("m.day"), F.col("d.day")).alias("day"),
        (
            F.coalesce(F.col("m.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))
        ).alias("n"),
        (
            F.coalesce(F.col("m.sv"), F.lit(0)) + F.coalesce(F.col("d.sv"), F.lit(0))
        ).alias("sv"),
    )
    return merged.select(
        "event_type",
        "day",
        "n",
        F.round(F.col("sv") / 1000000.0, 2).alias("total_value"),
    )


_TABLE_CHANGES_ORACLE = """
    WITH touched AS (
      SELECT doc_id, text, lang, n_chars FROM documents
      WHERE lang = 'de' AND doc_id % 10 = 0
    )
    SELECT doc_id, 'insert' AS change_type, lang,
           CAST(n_chars + 1000 AS BIGINT) AS n_chars,
           CAST(concat('0x', substr(md5(upper(text)), 1, 8)) AS BIGINT)
             AS text_chk
    FROM touched
    UNION ALL
    SELECT doc_id, 'delete' AS change_type, lang,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS text_chk
    FROM touched
"""


@query(
    "lake_table_changes",
    _TABLE_CHANGES_ORACLE,
    "Manifest-scoped change feed (Delta CDF analog, round-8): seed a "
    "lang-partitioned manifest table from documents, MERGE an update "
    "batch touching ONE partition (lang='de', every 10th doc: "
    "upper-cased text, n_chars+1000), then emit the v1->v2 row-level "
    "feed from the two committed manifests ALONE — files present in "
    "exactly one snapshot are scanned, carried partitions are pruned "
    "at planning time, and rows rewritten byte-identically inside the "
    "touched partition cancel in the multiset difference. The oracle "
    "replays the edit script: each touched doc surfaces once as the "
    "inserted new version and once as the deleted old one.",
)
def lake_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unlike lake_table_diff (a full-outer join of two COMPLETE
    snapshots), this is the O(delta) form: the manifests are compared
    as file sets, so a consumer of a 100 TB table scans only the
    rewritten partitions' old+new files — the body asserts the scan
    touched nothing outside lang=de. exceptAll shuffles only those
    delta rows. This is the incremental-consumption primitive that
    feeds lake_incremental_agg_refresh without a base-table rescan."""
    from ..sources.lake import merge_into, publish_overwrite, table_changes

    d = load(spark, sf_dir, "documents")
    path = scratch_dir("table_changes_") + "/docs"
    publish_overwrite(spark, path, d, ["lang"])
    updates = d.filter(
        (F.col("lang") == "de") & (F.col("doc_id") % 10 == 0)
    ).select(
        "doc_id",
        F.upper("text").alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + 1000).alias("n_chars"),
    )
    merge_into(
        spark,
        path,
        updates,
        ["doc_id"],
        partition_by=["lang"],
        schema=d.schema,
        collect_stats=False,
    )
    tc = table_changes(spark, path, 1, 2)
    # the O(delta) contract, enforced: only the touched partition's
    # files (old and new) ever enter the plan
    _require(all("lang=de/" in f for f in tc.inputFiles()), tc.inputFiles())
    return tc.select(
        "doc_id",
        F.col("_change_type").alias("change_type"),
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
        .cast("long")
        .alias("text_chk"),
    )


_CDF_REFRESH_ORACLE = """
    WITH de_new AS (
      SELECT CASE WHEN doc_id % 4 = 0 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM documents WHERE lang = 'de' AND doc_id % 10 <> 0
    ),
    v2 AS (
      SELECT lang, n_chars FROM documents WHERE lang <> 'de'
      UNION ALL
      SELECT 'de' AS lang, n_chars FROM de_new
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM v2 GROUP BY lang
"""


@query(
    "lake_cdf_agg_refresh",
    _CDF_REFRESH_ORACLE,
    "Incremental view maintenance FROM the change feed (round-8): a "
    "per-lang count/sum MV over a manifest-committed documents table "
    "is refreshed by aggregating the v1->v2 table_changes feed with "
    "SIGNED contributions (+1/+n_chars per insert, -1/-n_chars per "
    "delete) and merging into the stored MV — the one refresh shape "
    "that survives row DELETIONS, which the delta-batch form "
    "(lake_incremental_agg_refresh) cannot express. The v2 publish "
    "rewrites only lang=de: every 10th doc dropped, every 4th "
    "remaining doc's n_chars grown by 1000. The oracle is the full "
    "recompute of the v2 state, so the hash check proves "
    "feed-merge == recompute exactly.",
)
def lake_cdf_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition the manifest stack exists for: publishes commit
    snapshots, table_changes turns any two snapshots into an O(delta)
    row feed, and additive MVs refresh from the feed alone — deletes
    subtract, inserts add, an update is the pair. Scale: the feed
    scans only the rewritten partition's files, the signed aggregate
    combines map-side to O(groups-touched) rows, and the MV merge is a
    broadcast full-outer join (delta side is tiny by construction);
    the base corpus is never rescanned. A group whose count reaches 0
    drops out of the MV."""
    from ..sources.lake import publish_overwrite, read_table, table_changes

    d = load(spark, sf_dir, "documents")
    path = scratch_dir("cdf_refresh_") + "/docs"
    publish_overwrite(spark, path, d, ["lang"])
    mv0 = (
        read_table(spark, path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )
    mv_path = scratch_dir("cdf_refresh_") + "/mv"
    mv0.repartition(1).write.parquet(mv_path)
    # v2: rewrite ONE partition — drop every 10th de doc, grow every
    # 4th remaining one's n_chars
    de_new = d.filter(
        (F.col("lang") == "de") & (F.col("doc_id") % 10 != 0)
    ).select(
        "doc_id",
        "text",
        "lang",
        "source",
        F.when(F.col("doc_id") % 4 == 0, F.col("n_chars") + 1000)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    publish_overwrite(spark, path, de_new, ["lang"])
    feed = table_changes(spark, path, 1, 2)
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    delta = feed.groupBy("lang").agg(
        F.sum(sign).cast("long").alias("dn"),
        F.sum(sign * F.col("n_chars")).cast("long").alias("dchars"),
    )
    mv = spark.read.schema(mv0.schema).parquet(mv_path)
    return (
        mv.join(F.broadcast(delta), "lang", "full_outer")
        .select(
            "lang",
            (F.coalesce("n_docs", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .cast("long")
            .alias("n_docs"),
            (
                F.coalesce("total_chars", F.lit(0))
                + F.coalesce("dchars", F.lit(0))
            )
            .cast("long")
            .alias("total_chars"),
        )
        .filter(F.col("n_docs") > 0)
    )
