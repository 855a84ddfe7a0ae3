"""Source/sink operators (SURVEY.md §2.1): CSV and JSON round-trips and
hive-partitioned lake writes with partition pruning.

The reference's sinks are parquet uploads (S2/S4) and the Athena CSV
results store (S5); these operators exercise the same surface natively:
write with the engine, read back with a *declared* schema (never
inferred), and prove the round-trip preserves values by aggregating to
the same oracle answer as the original parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..scratch import scratch_dir
from ..sources import load, read_table, write_partitioned
from .registry import _require, query


@query(
    "csv_roundtrip_agg",
    """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    "S5 surface: write lineitem columns as headered CSV, read back with a "
    "declared schema, aggregate — must equal the parquet-derived answer "
    "(proves the CSV sink/source round-trip is lossless).",
)
def csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    out = scratch_dir("csv_rt_")
    li.write.mode("overwrite").option("header", "true").csv(out)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_quantity", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).option("header", "true").csv(out)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


@query(
    "lake_scd2_apply",
    """
    WITH init AS (SELECT c_custkey, c_name, c_acctbal
                  FROM customer WHERE c_custkey <= 200),
    ins_new AS (SELECT c_custkey, c_name, c_acctbal
                FROM customer WHERE c_custkey BETWEEN 201 AND 220)
    SELECT c_custkey, c_name, c_acctbal,
           TIMESTAMP '2024-01-01' AS effective_from,
           TIMESTAMP '2024-06-01' AS effective_to,
           FALSE AS is_current
    FROM init WHERE c_custkey <= 80
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal + 100,
           TIMESTAMP '2024-06-01', CAST(NULL AS TIMESTAMP), TRUE
    FROM init WHERE c_custkey <= 80
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal,
           TIMESTAMP '2024-01-01', CAST(NULL AS TIMESTAMP), TRUE
    FROM init WHERE c_custkey > 80
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal,
           TIMESTAMP '2024-06-01', CAST(NULL AS TIMESTAMP), TRUE
    FROM ins_new
    """,
    "Type-2 SCD apply on the plain-parquet lake: changed keys close "
    "their current version and insert a new one, unchanged update rows "
    "are no-ops (null-safe comparison), new keys insert, history is "
    "never touched. The oracle replays the declared outcome from the "
    "same base table: keys <= 80 get two versions, 81-200 stay "
    "untouched (including the no-op update slice 81-120), 201-220 "
    "insert at the update timestamp.",
)
def lake_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives sources.lake.scd2_apply end to end: seed the versioned
    dimension, apply one update batch (changed + unchanged + new keys),
    read back the committed files. Scale notes on the library function."""
    import datetime

    from ..sources import scd2_apply

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    path = scratch_dir("scd2_") + "/dim"
    (
        c.filter(F.col("c_custkey") <= 200)
        .withColumn("effective_from", F.lit(datetime.datetime(2024, 1, 1)))
        .withColumn("effective_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .write.parquet(path)
    )
    updates = (
        c.filter(F.col("c_custkey") <= 80)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100)  # changed
        .unionByName(
            c.filter(F.col("c_custkey").between(81, 120))  # no-op slice
        )
        .unionByName(
            c.filter(F.col("c_custkey").between(201, 220))  # new keys
        )
    )
    scd2_apply(
        spark,
        path,
        updates,
        key_cols=["c_custkey"],
        change_cols=["c_acctbal"],
        as_of=datetime.datetime(2024, 6, 1),
    )
    return read_table(spark, path).orderBy(
        "c_custkey", "effective_from"
    )


@query(
    "lake_schema_evolution",
    """
    WITH base AS (SELECT c_custkey, c_name, c_acctbal,
                         c_custkey % 2 AS grp
                  FROM customer WHERE c_custkey <= 200),
    upd AS (SELECT c_custkey, c_name, c_acctbal + 50 AS c_acctbal, grp,
                   'gold' AS tier
            FROM base WHERE c_custkey <= 50 AND c_custkey % 2 = 0
            UNION ALL
            SELECT c_custkey + 1000, c_name, c_acctbal, grp, 'new'
            FROM base WHERE c_custkey <= 10 AND c_custkey % 2 = 0)
    SELECT b.c_custkey, b.c_name, CAST(b.c_acctbal AS DOUBLE) AS c_acctbal,
           CAST(b.grp AS BIGINT) AS grp, CAST(NULL AS VARCHAR) AS tier
    FROM base b ANTI JOIN upd u ON b.c_custkey = u.c_custkey
    UNION ALL
    SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE),
           CAST(grp AS BIGINT), tier
    FROM upd
    ORDER BY c_custkey
    """,
    "Add-column schema evolution through the MERGE path on a partitioned "
    "lake table: the update batch carries a brand-new `tier` column "
    "(evolve_schema=True), only the touched partition (grp=0) is "
    "rewritten with the evolved schema, the untouched grp=1 partition "
    "keeps its old files, and the mergeSchema read NULL-fills `tier` for "
    "every pre-evolution row. The oracle replays: even keys <= 50 "
    "replaced with tier='gold', inserts 1000-1010 with tier='new', all "
    "other rows NULL tier.",
)
def lake_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives sources.lake.merge_into with evolve_schema end to end.
    Scale notes on the library function: evolution costs nothing beyond
    the merge itself — no table-wide rewrite, old files are never
    touched, and the new column materializes lazily through the merged /
    catalog-declared schema."""
    from ..sources.lake import merge_into

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    base = c.filter(F.col("c_custkey") <= 200).withColumn(
        "grp", F.col("c_custkey") % 2
    )
    lake = scratch_dir("evolve_lake_")
    write_partitioned(base, lake, partition_by=["grp"])
    even = (F.col("c_custkey") % 2 == 0)
    upd_changed = base.filter((F.col("c_custkey") <= 50) & even).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") + 50).alias("c_acctbal"),
        "grp",
        F.lit("gold").alias("tier"),
    )
    upd_new = base.filter((F.col("c_custkey") <= 10) & even).select(
        (F.col("c_custkey") + 1000).alias("c_custkey"),
        "c_name",
        "c_acctbal",
        "grp",
        F.lit("new").alias("tier"),
    )
    merge_into(
        spark,
        lake,
        upd_changed.unionByName(upd_new),
        ["c_custkey"],
        partition_by=["grp"],
        evolve_schema=True,
    )
    back = read_table(spark, lake)
    return back.select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        F.col("grp").cast("long").alias("grp"),
        "tier",
    ).orderBy("c_custkey")


@query(
    "lake_scd2_partitioned",
    """
    WITH init AS (SELECT c_custkey, c_name, c_acctbal
                  FROM customer WHERE c_custkey <= 200),
    ins_new AS (SELECT c_custkey, c_acctbal
                FROM customer WHERE c_custkey BETWEEN 201 AND 220)
    SELECT c_custkey, c_name, c_acctbal,
           TIMESTAMP '2024-01-01' AS effective_from,
           TIMESTAMP '2024-06-01' AS effective_to,
           FALSE AS is_current, '2024-01' AS effective_month
    FROM init WHERE c_custkey <= 80
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal + 100,
           TIMESTAMP '2024-06-01', CAST(NULL AS TIMESTAMP), TRUE, '2024-06'
    FROM init WHERE c_custkey <= 80
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal,
           TIMESTAMP '2024-01-01', CAST(NULL AS TIMESTAMP), TRUE, '2024-01'
    FROM init WHERE c_custkey BETWEEN 81 AND 150
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal,
           TIMESTAMP '2024-03-01', CAST(NULL AS TIMESTAMP), TRUE, '2024-03'
    FROM init WHERE c_custkey BETWEEN 151 AND 200
    UNION ALL
    SELECT c_custkey, CAST(NULL AS VARCHAR), c_acctbal,
           TIMESTAMP '2024-06-01', CAST(NULL AS TIMESTAMP), TRUE, '2024-06'
    FROM ins_new
    """,
    "Type-2 SCD apply on a MONTH-PARTITIONED dimension with a "
    "partial-attribute batch: the rewrite prunes to partitions holding "
    "closing rows plus the as_of month (2024-03 seeded keys are never "
    "rewritten — byte-identity pinned in tests/test_lake_features.py), "
    "changed keys carry unsupplied attributes forward from the closing "
    "row, and brand-new keys NULL them. The oracle replays the declared "
    "outcome: keys <= 80 close in '2024-01' and re-insert (name carried) "
    "in '2024-06'; 81-150 and 151-200 stay in their seed months; "
    "201-220 insert with NULL name.",
)
def lake_scd2_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives sources.lake.scd2_apply with partition_col end to end:
    seed a two-month versioned dimension, apply one partial-attribute
    batch, read back the committed partitioned files. Scale notes on the
    library function (touched-partition dynamic overwrite)."""
    import datetime

    from ..sources import scd2_apply
    from ..sources.lake import scd2_partition_value

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    path = scratch_dir("scd2p_") + "/dim"
    (
        c.filter(F.col("c_custkey") <= 200)
        .withColumn(
            "effective_from",
            F.when(
                F.col("c_custkey") <= 150, F.lit(datetime.datetime(2024, 1, 1))
            ).otherwise(F.lit(datetime.datetime(2024, 3, 1))),
        )
        .withColumn("effective_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .withColumn("effective_month", scd2_partition_value(F.col("effective_from")))
        .write.partitionBy("effective_month")
        .parquet(path)
    )
    updates = (
        c.filter(F.col("c_custkey") <= 80)
        .select("c_custkey", (F.col("c_acctbal") + 100).alias("c_acctbal"))
        .unionByName(
            c.filter(F.col("c_custkey").between(81, 120)).select(
                "c_custkey", "c_acctbal"
            )  # no-op slice
        )
        .unionByName(
            c.filter(F.col("c_custkey").between(201, 220)).select(
                "c_custkey", "c_acctbal"
            )  # new keys, partial attributes
        )
    )
    scd2_apply(
        spark,
        path,
        updates,
        key_cols=["c_custkey"],
        change_cols=["c_acctbal"],
        as_of=datetime.datetime(2024, 6, 1),
        partition_col="effective_month",
    )
    return read_table(spark, path).select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        "effective_from",
        "effective_to",
        "is_current",
        F.col("effective_month").cast("string").alias("effective_month"),
    ).orderBy("c_custkey", "effective_from")


@query(
    "events_json_props_extract",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT)
             AS sum_k,
           CAST(min(json_extract_string(props, '$.k')::BIGINT) AS BIGINT)
             AS min_k,
           CAST(max(json_extract_string(props, '$.k')::BIGINT) AS BIGINT)
             AS max_k
    FROM events GROUP BY event_type
    """,
    "Semi-structured extraction: the events.props JSON payload parsed "
    "with from_json into map<string,long> and aggregated per type — the "
    "schema-on-read path for the property-bag columns every event lake "
    "carries.",
)
def events_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: from_json is a JVM-side expression evaluated inside the
    scan's codegen stage — no Python, no second pass; the agg is a tiny
    per-type partial+final hash aggregate. At rest you'd materialize the
    parsed map once (or promote hot keys to columns); this is the query
    shape either way."""
    e = load(spark, sf_dir, "events")
    k = F.from_json("props", T.MapType(T.StringType(), T.LongType()))["k"]
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


@query(
    "json_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "JSON sink/source round-trip of the nation dimension with declared "
    "schema on read.",
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    out = scratch_dir("json_rt_")
    n.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.read.schema(schema).json(out).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query(
    "orc_roundtrip_agg",
    """
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
           round(CAST(avg(p_retailprice) AS DOUBLE), 2) AS avg_price
    FROM part GROUP BY p_brand
    """,
    "ORC sink/source round-trip of part (Spark's second columnar "
    "format), aggregated to the parquet-derived oracle answer.",
)
def orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    out = scratch_dir("orc_rt_")
    p.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
    )


@query(
    "partitioned_write_prune",
    """
    SELECT CAST(month(o_orderdate) AS BIGINT) AS om,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS rev
    FROM orders WHERE year(o_orderdate) = 1997
    GROUP BY 1
    """,
    "100 TB layout discipline: hive-partition orders by year on write, "
    "read back one partition — the scan must prune to the oy=1997 "
    "directory (asserted in tests/test_plans.py).",
)
def partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").withColumn("oy", F.year("o_orderdate"))
    out = scratch_dir("part_lake_")
    write_partitioned(o, out, partition_by=["oy"])
    back = spark.read.parquet(out).filter(F.col("oy") == 1997)
    return back.groupBy(F.month("o_orderdate").cast("long").alias("om")).agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("rev"),
    )


@query(
    "lake_merge_upsert",
    """
    WITH updates AS (
      SELECT doc_id, upper(text) AS text, lang, source, n_chars + 1000 AS n_chars
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 1000000, text, lang, source, n_chars
      FROM documents WHERE doc_id % 17 = 3
    ),
    merged AS (
      SELECT d.* FROM documents d
      WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.doc_id = d.doc_id)
      UNION ALL
      SELECT * FROM updates
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM merged GROUP BY lang
    """,
    "MERGE INTO on the plain-Parquet lake: upsert a mixed batch (10% "
    "replaced rows + inserted rows) into a lang-partitioned documents "
    "table via partition-pruned dynamic overwrite, then aggregate the "
    "final on-disk state (count, chars, md5 content checksum per lang).",
)
def lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: see sources.lake.merge_into — old-row reads prune to the
    partitions named by the update batch, the commit replaces only those
    partitions' files, and the checksum
    aggregation proves replaced text actually landed on disk. The md5
    bucket sum is an integer, so the verdict is order-free."""
    from ..sources.lake import merge_into

    d = load(spark, sf_dir, "documents")
    lake = scratch_dir("merge_lake_")
    write_partitioned(d, lake, partition_by=["lang"])
    updates = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(
            "doc_id",
            F.upper("text").alias("text"),
            "lang",
            "source",
            (F.col("n_chars") + 1000).alias("n_chars"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 17 == 3).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                "text",
                "lang",
                "source",
                "n_chars",
            )
        )
    )
    # declared-schema read (the at-scale path): zero footer reads — the
    # schema comes from the writer's frame, as it would from the catalog
    merge_into(
        spark, lake, updates, ["doc_id"], partition_by=["lang"], schema=d.schema
    )
    back = read_table(spark, lake)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
        )
        .cast("long")
        .alias("text_chk"),
    )


ZORDER_BITS = 11  # covers user_id < 2048 (sf0.1 max 1499) and the day dim


def zorder_value(x, y, bits: int = ZORDER_BITS):
    """Morton/Z-order interleave of the low ``bits`` of two integer
    columns: bit b of x lands at position 2b, bit b of y at 2b+1.
    Pure bit arithmetic — JVM-side and replayable in the oracle.

    ``bits`` must cover the larger dimension's value range: values
    above 2^bits alias onto the same low bits, collapsing the layout's
    clustering for that dimension (round-6 review: the old default of 8
    aliased sf0.1's 1500 users into ~6 overlapping ranges and silently
    destroyed user-side file skipping at exactly the benched scale). In
    production derive it from the column's max via catalog stats."""
    from functools import reduce

    parts = []
    for b in range(bits):
        parts.append(F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b))
        parts.append(
            F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return reduce(lambda a, b: a.bitwiseOR(b), parts).cast("long")


def _zorder_sql(x: str, y: str, bits: int = ZORDER_BITS) -> str:
    return " | ".join(
        f"((({x} >> {b}) & 1) << {2 * b}) | ((({y} >> {b}) & 1) << {2 * b + 1})"
        for b in range(bits)
    )


_ZORDER_ORACLE = f"""
    WITH e AS (SELECT event_id, user_id, event_type, ts,
                      date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dd
               FROM events)
    SELECT event_id, user_id, CAST(dd AS BIGINT) AS dd, event_type,
           CAST({_zorder_sql('user_id', 'dd')} AS BIGINT) AS zval
    FROM e
    WHERE user_id BETWEEN 40 AND 55
      AND ts >= TIMESTAMP '2024-01-11' AND ts < TIMESTAMP '2024-01-16'
    ORDER BY event_id
"""


@query(
    "lake_zorder_scan",
    _ZORDER_ORACLE,
    "Z-order (Morton) data layout for multi-dimensional data skipping: "
    "events rewritten range-partitioned + sorted on the interleaved "
    "(user_id, day) z-value, then scanned with a 2-D predicate. The "
    "oracle replays the bit-interleave and the predicate; the file-level "
    "skipping win is pinned by footer-stats assertions in "
    "tests/test_lake_features.py.",
)
def lake_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clustered-layout story Delta/Iceberg call OPTIMIZE ZORDER,
    on plain parquet: interleaving the low bits of the two filter
    dimensions makes each range-partitioned file cover a small
    rectangle in (user_id, day) space, so parquet min/max footer stats
    prune files for predicates on EITHER or BOTH dimensions — a
    1-D sort layout can only prune on its leading column.

    Scale: the rewrite is one repartitionByRange shuffle on zval (the
    standard table-maintenance pass, amortized over every later read);
    the scan pushes both predicates to parquet (PushedFilters) and at
    100 TB reads only the files whose (user_id, day) rectangle
    intersects the query box — here 16 of 150 users x 5 of 30 days
    ~ 2% of the table instead of all of it."""
    e = load(spark, sf_dir, "events")
    dd = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("long")
    z = e.select(
        "event_id",
        "user_id",
        dd.alias("dd"),
        "event_type",
        "ts",
        zorder_value(F.col("user_id"), dd).alias("zval"),
    )
    out = scratch_dir("zorder_") + "/events_z"
    z.repartitionByRange(16, "zval").sortWithinPartitions("zval").write.mode(
        "overwrite"
    ).parquet(out)
    r = spark.read.schema(z.schema).parquet(out)
    return (
        r.filter(
            F.col("user_id").between(40, 55)
            & (F.col("ts") >= F.lit("2024-01-11").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
        )
        .select("event_id", "user_id", "dd", "event_type", "zval")
        .orderBy("event_id")
    )


@query(
    "lake_scd2_as_of",
    """
    WITH init AS (SELECT c_custkey, c_name, c_acctbal
                  FROM customer WHERE c_custkey <= 200),
    ins_new AS (SELECT c_custkey, c_name, c_acctbal
                FROM customer WHERE c_custkey BETWEEN 201 AND 220)
    SELECT '2024-03-15' AS snapshot, c_custkey, c_name,
           round(c_acctbal, 2) AS c_acctbal
    FROM init
    UNION ALL
    SELECT '2024-07-01', c_custkey, c_name,
           round(CASE WHEN c_custkey <= 80 THEN c_acctbal + 100
                      ELSE c_acctbal END, 2)
    FROM init
    UNION ALL
    SELECT '2024-07-01', c_custkey, c_name, round(c_acctbal, 2)
    FROM ins_new
    """,
    "Point-in-time (time travel) reads over the versioned SCD2 "
    "dimension: after one apply batch, the same table is read AS OF a "
    "pre-update instant (must return the seed state — closed versions "
    "selected, post-update versions invisible) and AS OF a post-update "
    "instant (changed keys show the new version, inserts appear). The "
    "oracle replays both snapshots from the base table — the VERSION AS "
    "OF semantics a Delta user expects, on plain parquet.",
)
def lake_scd2_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives sources.lake.scd2_as_of end to end over an
    scd2_apply-maintained dimension. Scale notes on the library
    function: both validity predicates push into the parquet scan, and
    a date-bucket partition on effective_from prunes old-version files
    — time travel costs one pruned scan, no table format or log replay."""
    import datetime

    from ..sources import scd2_apply
    from ..sources.lake import scd2_as_of

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    path = scratch_dir("scd2_asof_") + "/dim"
    seeded = (
        c.filter(F.col("c_custkey") <= 200)
        .withColumn("effective_from", F.lit(datetime.datetime(2024, 1, 1)))
        .withColumn("effective_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    seeded.write.parquet(path)
    updates = (
        c.filter(F.col("c_custkey") <= 80)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100)
        .unionByName(c.filter(F.col("c_custkey").between(201, 220)))
    )
    scd2_apply(
        spark,
        path,
        updates,
        key_cols=["c_custkey"],
        change_cols=["c_acctbal"],
        as_of=datetime.datetime(2024, 6, 1),
    )

    def snap(tag: str, at: "datetime.datetime") -> DataFrame:
        return scd2_as_of(spark, path, at, schema=seeded.schema).select(
            F.lit(tag).alias("snapshot"),
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
        )

    return snap("2024-03-15", datetime.datetime(2024, 3, 15)).unionByName(
        snap("2024-07-01", datetime.datetime(2024, 7, 1))
    )


@query(
    "lake_vacuum_expire",
    """
    WITH base AS (SELECT c_custkey AS k, c_name AS nm, c_acctbal AS b
                  FROM customer WHERE c_custkey <= 200)
    SELECT k AS c_custkey, nm AS c_name,
           CAST(b + 100 AS DOUBLE) AS c_acctbal,
           TIMESTAMP '2024-02-01' AS effective_from,
           TIMESTAMP '2024-03-01' AS effective_to,
           FALSE AS is_current, '2024-02' AS effective_month
    FROM base WHERE k % 15 = 0
    UNION ALL
    SELECT k, nm, CAST(b + 200 AS DOUBLE), TIMESTAMP '2024-03-01',
           CAST(NULL AS TIMESTAMP), TRUE, '2024-03'
    FROM base WHERE k % 5 = 0
    UNION ALL
    SELECT k, nm, CAST(b + 100 AS DOUBLE), TIMESTAMP '2024-02-01',
           CAST(NULL AS TIMESTAMP), TRUE, '2024-02'
    FROM base WHERE k % 3 = 0 AND k % 5 <> 0
    UNION ALL
    SELECT k, nm, CAST(b AS DOUBLE), TIMESTAMP '2024-01-01',
           TIMESTAMP '2024-03-01', FALSE, '2024-01'
    FROM base WHERE k % 5 = 0 AND k % 3 <> 0
    UNION ALL
    SELECT k, nm, CAST(b AS DOUBLE), TIMESTAMP '2024-01-01',
           CAST(NULL AS TIMESTAMP), TRUE, '2024-01'
    FROM base WHERE k % 3 <> 0 AND k % 5 <> 0
    ORDER BY c_custkey, effective_from
    """,
    "Retention/vacuum on a month-partitioned SCD2 dimension (round-6 "
    "VERDICT #4): two version batches (%3 keys re-priced at 2024-02-01, "
    "%5 keys at 2024-03-01) then expire_scd2_versions(before="
    "2024-02-15) physically removes exactly the versions closed at or "
    "before the horizon (the 2024-02-01-closed v1 rows of %3 keys) "
    "while every as-of read at or after the horizon replays unchanged. "
    "Only the 2024-01 partition (the one holding expired rows) is "
    "rewritten. The oracle replays the surviving version set per "
    "residue class.",
)
def lake_vacuum_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives sources.lake.expire_scd2_versions end to end on a
    dimension built by two scd2_apply batches. Scale notes on the
    library function: expired-row predicate pushes to the scan, rewrite
    bounded to partitions containing expired rows, atomic publish."""
    import datetime

    from ..sources.lake import scd2_apply, scd2_partition_value, expire_scd2_versions

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    path = scratch_dir("scd2_vacuum_") + "/dim"
    (
        c.filter(F.col("c_custkey") <= 200)
        .withColumn("effective_from", F.lit(datetime.datetime(2024, 1, 1)))
        .withColumn("effective_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .withColumn("effective_month", scd2_partition_value(F.col("effective_from")))
        .write.partitionBy("effective_month")
        .parquet(path)
    )
    base = c.filter(F.col("c_custkey") <= 200)
    batch1 = base.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 100).alias("c_acctbal")
    )
    batch2 = base.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey", (F.col("c_acctbal") + 200).alias("c_acctbal")
    )
    for batch, as_of in (
        (batch1, datetime.datetime(2024, 2, 1)),
        (batch2, datetime.datetime(2024, 3, 1)),
    ):
        scd2_apply(
            spark,
            path,
            batch,
            key_cols=["c_custkey"],
            change_cols=["c_acctbal"],
            as_of=as_of,
            partition_col="effective_month",
            collect_stats=False,  # stats unread in this pipeline
        )
    expire_scd2_versions(
        spark,
        path,
        before=datetime.datetime(2024, 2, 15),
        partition_col="effective_month",
    )
    return read_table(spark, path).select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        "effective_from",
        "effective_to",
        "is_current",
        F.col("effective_month").cast("string").alias("effective_month"),
    ).orderBy("c_custkey", "effective_from")


@query(
    "lake_delete_user_rows",
    """
    SELECT CAST(user_id % 8 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE user_id % 8 <> 3
    GROUP BY 1 ORDER BY 1
    """,
    "DELETE FROM / GDPR erasure on a bucket-partitioned lake table: "
    "every event of the users in bucket 3 is physically removed "
    "(delete_rows) — the match predicate prunes the rewrite to the one "
    "partition holding matched rows, and because the deletion empties "
    "it, the partition DIRECTORY is removed outright (the round-7 "
    "emptied-partition fix exercised end to end). The oracle is the "
    "per-bucket profile of everything that remains; erasure "
    "completeness (no reader can observe a deleted row) and "
    "idempotence are pinned in tests/test_lake_features.py.",
)
def lake_delete_user_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: erasing one user community touches its bucket only —
    untouched buckets are never listed, read, or rewritten (the
    merge_into partition-pruning discipline applied to deletion), and
    publication is atomic, so readers see pre- or post-erasure state,
    never a partial delete."""
    from ..sources import delete_rows, load, write_partitioned

    e = load(spark, sf_dir, "events")
    path = scratch_dir("delete_rows_") + "/events"
    write_partitioned(
        e.withColumn("bucket", F.col("user_id") % 8), path, partition_by=["bucket"]
    )
    stats = delete_rows(
        spark, path, "user_id % 8 = 3", partition_col="bucket"
    )
    _require(stats["partitions_rewritten"] == 1, stats)
    return (
        read_table(spark, path)
        .groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("bucket")
    )


@query(
    "lake_time_travel",
    """
    WITH updates AS (
      SELECT doc_id, upper(text) AS text, lang, source,
             n_chars + 1000 AS n_chars
      FROM documents WHERE doc_id % 10 = 0
    ),
    merged AS (
      SELECT d.* FROM documents d
      WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.doc_id = d.doc_id)
      UNION ALL
      SELECT * FROM updates
    )
    SELECT 'v1' AS snap, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'v2' AS snap, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM merged GROUP BY lang
    """,
    "Time travel on a manifest-committed lake table (round-8): seed a "
    "lang-partitioned documents table as manifest snapshot v1, MERGE an "
    "update batch (10% of rows rewritten) committing snapshot v2, then "
    "read BOTH — the current read through the atomically-replaced "
    "manifest pointer and the historical read of snapshot v1, whose "
    "files the merge retained. The oracle replays each state's per-lang "
    "profile (count, chars, md5 content checksum); matching v1 numbers "
    "prove the pre-merge bytes are still exactly readable after the "
    "merge replaced their partitions.",
)
def lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the manifest-pointer commit protocol (sources.lake
    read_table/publish_overwrite) end to end. Scale: the
    historical read costs the same as the current one — both are a
    planning-time file-list selection, no data copied per snapshot
    (the reference gets this from S3 bucket versioning, main.tf:25-30);
    retention is vacuum_manifests' keep_last horizon."""
    from ..sources.lake import merge_into, publish_overwrite, read_table

    d = load(spark, sf_dir, "documents")
    path = scratch_dir("time_travel_") + "/docs"
    publish_overwrite(spark, path, d, ["lang"])
    updates = d.filter(F.col("doc_id") % 10 == 0).select(
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

    def profile(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long"))
            .cast("long")
            .alias("text_chk"),
        ).select(F.lit(tag).alias("snap"), "*")

    return profile(read_table(spark, path, version=1), "v1").unionByName(
        profile(read_table(spark, path), "v2")
    )


_MANIFEST_SKIP_ORACLE = """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE n_chars BETWEEN 200 AND 300
    GROUP BY lang
"""


@query(
    "lake_manifest_skip_scan",
    _MANIFEST_SKIP_ORACLE,
    "Manifest-stats file skipping (round-8): documents range-clustered "
    "on n_chars into 8 files and manifest-committed — the commit "
    "records per-file column min/max from the parquet footers — then a "
    "band query [200, 300] lists files through the manifest and skips "
    "every file whose recorded range cannot intersect the band, at "
    "PLANNING time with zero query-time footer reads (the body asserts "
    "fewer files entered the plan than the snapshot holds). Pruning is "
    "I/O elimination only: the real predicate still applies, so the "
    "oracle is simply the band aggregate over all documents.",
)
def lake_manifest_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the skipping ladder: partition pruning eliminates
    directories, lake_zorder_scan's footer stats eliminate row groups
    at SCAN time, and manifest stats eliminate files at LISTING time —
    the Iceberg planning model. At 100 TB the difference is real: a
    0.1%-selective band query over a range-clustered table opens
    ~0.1% of the footers instead of all of them, and the stats were
    paid for ONCE at commit (carried files inherit theirs — commit
    cost stays O(new files))."""
    from ..sources.lake import publish_overwrite, read_table

    d = load(spark, sf_dir, "documents")
    path = scratch_dir("manifest_skip_") + "/docs"
    publish_overwrite(
        spark, path, d.repartitionByRange(8, "n_chars"), None
    )
    lo, hi = 200, 300
    pruned = read_table(spark, path, d.schema, prune={"n_chars": (lo, hi)})
    n_all = len(read_table(spark, path, d.schema).inputFiles())
    _require(
        len(pruned.inputFiles()) < n_all, (len(pruned.inputFiles()), n_all)
    )
    return (
        pruned.filter(F.col("n_chars").between(lo, hi))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_BUCKET_SEQ = __import__("itertools").count()


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> DataFrame:
    """Write ``df`` as a BUCKETED parquet table (Spark ``bucketBy`` +
    ``sortBy``, registered in the session catalog over ``path``) and
    return its scan. Bucketing is the write-once/join-forever layout:
    rows are hash-clustered on ``bucket_cols`` into ``n_buckets`` files
    per write, and every future join or aggregation keyed on those
    columns reads the clustering instead of shuffling — EnsureRequirements
    sees the scan's HashPartitioning and plans NO Exchange. The input is
    repartitioned to the bucket spec first (same murmur3 hash), so each
    bucket is ONE file per write; the residual per-bucket merge-join
    Sort is local (within a task, spill-safe), never an exchange.

    100 TB: this is how fact-fact joins (orders x lineitem on orderkey)
    avoid shuffling 100 TB per query — both sides pay ONE clustering
    shuffle at ingest, then every join is map-side merge. The same
    mechanism the CDC dimension uses at hive-partition granularity
    (bucket dirs = partition pruning) applied at FILE granularity with
    Spark's native join co-location. Bucket count is fixed at write
    time: size it to target file sizes at full scale (e.g. 100 TB /
    16384 buckets ~ 6 GB/bucket file)."""
    writer = (
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(name)
    return spark.table(name)


@query(
    "join_bucketed_colocated",
    """
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                          AS BIGINT)) / 100.0, 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    "Shuffle-free fact-fact join via Spark bucketing (round-8): "
    "lineitem and orders are each written ONCE as 16-bucket tables "
    "hash-clustered and sorted on the order key, then joined — the "
    "scans' HashPartitioning satisfies the sort-merge join's "
    "distribution requirement, so the physical plan contains NO "
    "Exchange on either side (asserted in the body and pinned in "
    "test_plans.py). This is the join shape broadcast can never "
    "rescue — both sides are fact-scale — and the oracle is the plain "
    "join + per-priority revenue aggregate.",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: at 100 TB a lineitem x orders join shuffles both tables
    per query unless their at-rest layout already clusters them; with
    both bucketed on the join key the per-query cost drops to a
    map-side merge of co-numbered bucket files. The one-time clustering
    write is the same shuffle a single join would have paid — amortized
    over every subsequent join, the canonical warehouse trade. The
    post-join aggregation still exchanges on its own (tiny) grouping
    key; only the fact-scale shuffle disappears."""
    from ..plans import physical_plan

    k = next(_BUCKET_SEQ)
    base = scratch_dir("bucketed_")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    bli = write_bucketed(
        spark, li, f"bkt_lineitem_{k}", ["l_orderkey"], 16,
        ["l_orderkey"], f"{base}/lineitem",
    )
    bo = write_bucketed(
        spark, orders, f"bkt_orders_{k}", ["o_orderkey"], 16,
        ["o_orderkey"], f"{base}/orders",
    )
    joined = bli.hint("merge").join(
        bo, bli["l_orderkey"] == bo["o_orderkey"]
    )
    plan = physical_plan(joined)
    _require("SortMergeJoin" in plan, plan[:2000])
    _require(
        "Exchange" not in plan,
        "bucketed join should not shuffle:\n" + plan[:2000],
    )
    return joined.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            )
            / 100.0,
            2,
        ).alias("revenue"),
    )


@query(
    "lake_bloom_point_lookup",
    """
    WITH u AS (SELECT min(user_id) AS uid FROM events)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 2)
             AS total_value
    FROM events, u WHERE user_id = u.uid
    GROUP BY event_type
    """,
    "Per-file bloom pruning for point lookups (round-8): events are "
    "hash-clustered on user_id into 8 files — the layout under which "
    "every file spans the full key RANGE, so manifest min/max stats "
    "can prune nothing — and the manifest commit records a 16 Kbit "
    "k=2 bloom bitmap per (file, user_id). A point lookup for one "
    "user probes the bitmaps at planning time and scans only files "
    "that may contain the key (the body asserts fewer files entered "
    "the plan than the snapshot holds; hash clustering puts the user "
    "in exactly one). Bloom pruning is I/O elimination only — false "
    "positives cost a scan, never a wrong row — so the oracle is the "
    "plain per-type profile of that user's events.",
)
def lake_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The missing rung of the skipping ladder for POINT predicates:
    partition pruning needs the key to be the partition scheme,
    min/max stats need the layout to be range-clustered on the key —
    but production fact tables are usually hash-distributed, where
    both are useless for a needle lookup. The per-file bloom (the
    Iceberg/Puffin index model, inlined in the manifest at this
    scale) answers 'which files can hold key k' from metadata alone:
    at 100 TB / 10k files, a point lookup opens ~1 file instead of
    all of them. Commit cost is one distinct-positions job over NEW
    files only (carried files inherit their bitmaps, like file
    stats)."""
    from ..sources.lake import publish_overwrite, read_table

    e = load(spark, sf_dir, "events")
    path = scratch_dir("bloom_lookup_") + "/events"
    publish_overwrite(
        spark,
        path,
        e.repartition(8, F.col("user_id")),
        None,
        bloom_cols=["user_id"],
    )
    uid = e.agg(F.min("user_id")).first()[0]  # O(1) collect — probe key
    pruned = read_table(spark, path, e.schema, prune={"user_id": uid})
    n_all = len(read_table(spark, path, e.schema).inputFiles())
    n_pruned = len(pruned.inputFiles())
    _require(n_pruned < n_all, (n_pruned, n_all))
    return (
        pruned.filter(F.col("user_id") == uid)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("value") * 1000000).cast("long"))
                / 1000000.0,
                2,
            ).alias("total_value"),
        )
    )


@query(
    "lake_rollback_restore",
    """
    WITH v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN n_chars + 777 ELSE n_chars END
               AS n_chars,
             lang
      FROM documents
    ),
    prof AS (
      SELECT 'v2' AS snap, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM v2 GROUP BY lang
      UNION ALL
      SELECT 'restored' AS snap, lang, CAST(count(*) AS BIGINT),
             CAST(sum(n_chars) AS BIGINT)
      FROM documents GROUP BY lang
    )
    SELECT * FROM prof
    """,
    "Snapshot RESTORE as a metadata commit (round-8): a manifest table "
    "at v1 takes a bad merge (10% of rows corrupted, +777 chars) "
    "committing v2, then rollback_table(v1) commits v3 whose file list "
    "IS v1's — no data moves or copies, history stays linear (v2 "
    "remains inspectable). The result reads the bad snapshot v2 AND "
    "the restored current state; the oracle replays both profiles, and "
    "the restored one matching the ORIGINAL documents proves the "
    "rollback is byte-exact.",
)
def lake_rollback_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives sources.lake.rollback_table end to end. Scale: RESTORE
    costs one manifest write regardless of table size — the
    recover-from-bad-publish primitive (Delta RESTORE / Iceberg
    rollback); the bad snapshot's files are reclaimed later by
    vacuum_manifests, and erased rows can never be resurrected
    (delete_rows truncates history first, pinned in
    tests/test_manifest.py)."""
    from ..sources.lake import merge_into, publish_overwrite, read_table, rollback_table

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars", "lang")
    path = scratch_dir("rollback_") + "/docs"
    publish_overwrite(spark, path, d, ["lang"])
    bad = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "n_chars", F.col("n_chars") + 777
    )
    merge_into(
        spark, path, bad, ["doc_id"], partition_by=["lang"],
        schema=d.schema, collect_stats=False,
    )
    out = rollback_table(path, 1)
    _require(out["rolled_back_to"] == 1 and out["new_version"] == 3, out)

    def profile(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        ).select(F.lit(tag).alias("snap"), "*")

    return profile(read_table(spark, path, version=2), "v2").unionByName(
        profile(read_table(spark, path), "restored")
    )


_MOR_VISIBLE_SEED = """
      SELECT doc_id, lang, source, n_chars FROM documents
      WHERE NOT coalesce(n_chars < 200, FALSE)
        AND NOT coalesce(nullif(lang, 'en') = 'de', FALSE)
"""


@query(
    "lake_delete_mor",
    f"""
    WITH visible_seed AS ({_MOR_VISIBLE_SEED}),
    appended AS (
      SELECT doc_id + 10000000 AS doc_id, lang, source, n_chars
      FROM documents WHERE n_chars < 180
    ),
    cur AS (
      SELECT *, FALSE AS appended FROM visible_seed
      UNION ALL
      SELECT *, TRUE AS appended FROM appended
    )
    SELECT lang, appended, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM cur GROUP BY lang, appended
    """,
    "Merge-on-read DELETE (round-8): two predicate tombstones commit as "
    "metadata-only snapshots on a lang-partitioned manifest table (file "
    "list unchanged — asserted), then an append lands rows MATCHING the "
    "first predicate. The oracle replays the exact visibility rules: "
    "seed rows hidden under both tombstones with three-valued logic "
    "(nullif makes predicate 2 NULL for 'en' rows — they stay), "
    "appended rows fully visible because tombstones are scoped by file "
    "sequence number (Iceberg's merge-on-read rule) and never apply to "
    "files committed after the delete.",
)
def lake_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE as an O(1)-data-movement manifest commit
    (sources/lake.py delete_rows_mor): the rewrite is deferred to
    purge_deleted_rows, the read-side cost is one pushable keep-filter.
    Scale: deleting a predicate's worth of rows from a 100 TB table
    costs one JSON pointer replace; the eager path (delete_rows) stays
    the GDPR primitive. Scope/3VL/rollback pinned in
    tests/test_mor_deletes.py."""
    from ..sources import (
        append_rows,
        delete_rows_mor,
        publish_overwrite,
        read_manifest,
        read_table,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = scratch_dir("mor_delete_") + "/docs"
    publish_overwrite(spark, path, d, ["lang"])
    before = read_manifest(path)
    delete_rows_mor(spark, path, "n_chars < 200", count=False)
    delete_rows_mor(spark, path, "nullif(lang, 'en') = 'de'", count=False)
    after = read_manifest(path)
    _require(after["files"] == before["files"], "tombstone commit moved data")
    _require(len(after["delete_predicates"]) == 2, after)
    batch = d.filter(F.col("n_chars") < 180).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    append_rows(spark, path, batch, partition_by=["lang"])
    return (
        read_table(spark, path)
        .withColumn("appended", F.col("doc_id") >= 10_000_000)
        .groupBy("lang", "appended")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


@query(
    "lake_mor_purge_cdf",
    f"""
    WITH hidden AS (
      SELECT doc_id, lang, source, n_chars FROM documents
      WHERE coalesce(n_chars < 200, FALSE)
         OR coalesce(nullif(lang, 'en') = 'de', FALSE)
    ),
    visible_seed AS ({_MOR_VISIBLE_SEED})
    SELECT 'cdf_delete' AS stage, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM hidden GROUP BY lang
    UNION ALL
    SELECT 'post_purge' AS stage, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM visible_seed GROUP BY lang
    """,
    "Merge-on-read purge + change feed (round-8): after two tombstone "
    "commits, table_changes across them emits the newly hidden rows as "
    "'delete' changes WITHOUT the file sets differing — the feed "
    "detects per-file tombstone-coverage deltas and scans only covered "
    "files. purge_deleted_rows then rewrites exactly the covered files "
    "with the keep-filters applied and clears every tombstone "
    "(asserted); the post-purge read must replay the same visible "
    "profile the masked read gave — materialization changes bytes, "
    "never results.",
)
def lake_mor_purge_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deferred-rewrite half of merge-on-read: tombstones
    accumulate cheaply, the purge pays the rewrite once, file-granular
    (uncovered files are carried by name — asserted). The CDF leg
    proves downstream incremental consumers observe MoR deletes
    exactly (sources/lake.py table_changes' coverage-delta scan)."""
    from ..sources import (
        delete_rows_mor,
        publish_overwrite,
        purge_deleted_rows,
        read_manifest,
        read_table,
        table_changes,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = scratch_dir("mor_purge_") + "/docs"
    publish_overwrite(spark, path, d, ["lang"])
    v1 = read_manifest(path)["version"]
    delete_rows_mor(spark, path, "n_chars < 200", count=False)
    delete_rows_mor(spark, path, "nullif(lang, 'en') = 'de'", count=False)
    v3 = read_manifest(path)["version"]
    feed = table_changes(spark, path, v1, v3)
    cdf = (
        feed.filter(F.col("_change_type") == "delete")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(F.lit("cdf_delete").alias("stage"), "*")
    )
    stats = purge_deleted_rows(spark, path)
    _require(stats["tombstones_cleared"] == 2, stats)
    _require(not read_manifest(path).get("delete_predicates"))
    post = (
        read_table(spark, path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(F.lit("post_purge").alias("stage"), "*")
    )
    return cdf.unionByName(post)


@query(
    "lake_write_audit_publish",
    """
    SELECT 'after_abort' AS stage, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'after_commit' AS stage, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars + 10) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    "Write-audit-publish (round-8, the Iceberg WAP pattern): a BAD "
    "rewrite (corrupted n_chars on 10% of rows) is staged as an "
    "invisible candidate snapshot, the audit query counts the "
    "violations on read_candidate and ABORTS — the live table must "
    "still replay the seed profile exactly ('after_abort'). A GOOD "
    "rewrite (+10 chars per doc) then stages, audits clean, and "
    "commits with one atomic pointer promote ('after_commit'). The "
    "oracle replays both stages; equality proves a rejected batch "
    "leaves zero trace and an accepted one lands exactly once.",
)
def lake_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-gated ingestion shape a production lake needs: the
    expensive write happens outside any lock, audits read the
    candidate at full scan parallelism, promotion is one JSON pointer
    replace regardless of data volume (sources/lake.py begin_publish
    contract). Crash/abandon reclaim + conflict detection pinned in
    tests/test_wap.py."""
    from ..sources import (
        abort_publish,
        begin_publish,
        commit_publish,
        publish_overwrite,
        read_candidate,
        read_manifest,
        read_table,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = scratch_dir("wap_") + "/docs"
    publish_overwrite(spark, path, d, ["lang"])
    v1 = read_manifest(path)["version"]

    def profile(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
            )
            .select(F.lit(tag).alias("stage"), "*")
        )

    bad = d.withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 10 == 0, F.lit(-1)).otherwise(
            F.col("n_chars")
        ),
    )
    cand = begin_publish(spark, path, bad, ["lang"])
    violations = (
        read_candidate(spark, path, cand).filter(F.col("n_chars") < 0).count()
    )
    _require(violations > 0, "audit should catch the corrupt batch")
    abort_publish(path, cand)
    _require(read_manifest(path)["version"] == v1, "abort must not commit")
    after_abort = profile(read_table(spark, path), "after_abort")

    good = d.withColumn("n_chars", F.col("n_chars") + 10)
    cand2 = begin_publish(spark, path, good, ["lang"])
    _require(
        read_candidate(spark, path, cand2).filter(F.col("n_chars") < 0).count()
        == 0,
        "good batch must audit clean",
    )
    commit_publish(path, cand2)
    after_commit = profile(read_table(spark, path), "after_commit")
    return after_abort.unionByName(after_commit)


@query(
    "lake_check_constraints",
    """
    WITH cur AS (
      SELECT doc_id, lang, source, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, lang, source, n_chars + 5
      FROM documents WHERE n_chars >= 300
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars
    FROM cur GROUP BY lang
    """,
    "Table CHECK constraints (round-8, the Delta ALTER TABLE ADD "
    "CONSTRAINT analog): a constraint commits as metadata after "
    "validating existing data; a violating append (negative n_chars) "
    "is refused at commit time — one scan of the STAGED files, never a "
    "recompute of the producing plan — leaving no visible trace "
    "(asserted: manifest byte-identical); a clean batch lands. The "
    "oracle replays seed + the accepted batch only; min_chars proves "
    "no violating row ever became visible.",
)
def lake_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-side data-quality gate (sources/lake.py
    add_constraint): constraints ride the manifest, survive rollback,
    and gate every commit path — append, publish rewrite, and WAP
    candidates (pinned in tests/test_constraints.py). SQL CHECK
    semantics: NULL passes; violation is explicit FALSE."""
    from ..sources import (
        ConstraintViolationError,
        add_constraint,
        append_rows,
        publish_overwrite,
        read_manifest,
        read_table,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = scratch_dir("constraints_") + "/docs"
    publish_overwrite(spark, path, d, ["lang"])
    add_constraint(spark, path, "chars_positive", "n_chars > 0")
    m_before = read_manifest(path)
    bad = (
        d.filter(F.col("n_chars") >= 300)
        .withColumn("doc_id", F.col("doc_id") + 10_000_000)
        .withColumn("n_chars", (F.col("n_chars") * -1))
    )
    try:
        append_rows(spark, path, bad, partition_by=["lang"])
        raise AssertionError("violating batch must be refused")
    except ConstraintViolationError:
        pass
    _require(read_manifest(path) == m_before, "refused batch left a commit")
    good = (
        d.filter(F.col("n_chars") >= 300)
        .withColumn("doc_id", F.col("doc_id") + 10_000_000)
        .withColumn("n_chars", F.col("n_chars") + 5)
    )
    append_rows(spark, path, good, partition_by=["lang"])
    return (
        read_table(spark, path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("n_chars").cast("long").alias("min_chars"),
        )
    )


@query(
    "lake_optimize_cluster",
    _MANIFEST_SKIP_ORACLE,
    "OPTIMIZE with clustering (round-8): a manifest table published as "
    "8 randomly-ordered files answers an n_chars band query by "
    "scanning all 8 (every file spans the full range — asserted); "
    "compact_in_place(cluster_by=['n_chars']) range-partitions and "
    "sorts the rewrite so each output file covers a narrow band, and "
    "the same prune read now plans strictly fewer files (asserted) "
    "while the pre-OPTIMIZE snapshot stays readable (history "
    "preserved, asserted). Results are layout-independent: the oracle "
    "is the plain band aggregate.",
)
def lake_optimize_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance op that makes S24 manifest-stats skipping
    ENGINEERED rather than opportunistic (sources/lake.py
    compact_in_place cluster_by): at 100 TB, clustering at OPTIMIZE
    time is what keeps band queries from scanning every file of every
    partition. Doubles as the merge-on-read tombstone purge (the
    rewrite reads the masked table and replaces every file)."""
    from pathlib import Path

    from ..sources import (
        compact_in_place,
        publish_overwrite,
        read_manifest,
        read_table,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = scratch_dir("optimize_") + "/docs"
    # deliberately shuffled layout: 8 files, each spanning the full
    # n_chars range -> stats-based skipping has nothing to bite on
    publish_overwrite(spark, path, d.repartition(8), None)
    band = {"n_chars": (200, 300)}
    files_before = len(read_table(spark, path, prune=band).inputFiles())
    n_total = len(read_manifest(path)["files"])
    _require(files_before == n_total, (files_before, n_total))
    total_bytes = sum(
        (Path(path) / f).stat().st_size for f in read_manifest(path)["files"]
    )
    compact_in_place(
        spark,
        path,
        target_file_bytes=max(1, total_bytes // 8),
        cluster_by=["n_chars"],
    )
    pruned = read_table(spark, path, prune=band)
    files_after = len(pruned.inputFiles())
    _require(files_after < n_total, (files_after, n_total))
    _require(read_table(spark, path, version=1).count() == d.count())
    return (
        pruned.filter(F.col("n_chars").between(200, 300))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@query(
    "lake_partition_evolution",
    """
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM documents GROUP BY lang, source
    """,
    "Partition-spec evolution (round-8, the Iceberg feature the "
    "reference's fixed Glue partition scheme lacks): seed 80% of the "
    "documents corpus lang-partitioned as manifest v1, EVOLVE the "
    "layout to source-partitioning as a pure metadata commit (v2, zero "
    "bytes moved), then append the remaining 20% — which lands under "
    "the NEW spec immediately. The verified read spans both layouts: "
    "one scan relation per spec, unioned, with lang a directory for "
    "old files and a data column for new ones (and source vice versa). "
    "The oracle is the full-corpus per-(lang, source) profile with an "
    "md5 content checksum — equality proves the mixed-spec union "
    "reconstructs every row exactly once with both columns correct in "
    "both groups.",
)
def lake_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale rationale: re-partitioning 100 TB eagerly is a
    cluster-week of pure I/O; evolution is O(1) metadata now, new data
    gets the new layout's pruning from its first commit, and the old
    data's rewrite happens on maintenance cadence (compact_in_place)
    or never. Partial rewrites on the mixed state are refused
    fail-closed; appends and reads are unrestricted (pinned in
    tests/test_partition_evolution.py)."""
    from ..sources import append_rows, evolve_partitioning, publish_overwrite
    from ..sources.lake import read_manifest, read_table

    d = load(spark, sf_dir, "documents")
    path = scratch_dir("part_evo_") + "/docs"
    publish_overwrite(
        spark, path, d.filter(F.col("doc_id") % 5 != 0), ["lang"],
    )
    evolve_partitioning(path, ["source"])
    append_rows(
        spark, path, d.filter(F.col("doc_id") % 5 == 0), ["source"]
    )
    m = read_manifest(path)
    _require(sorted(m["partition_specs"].values()) == [["lang"], ["source"]])
    return (
        read_table(spark, path)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(
                F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("text_chk"),
        )
    )


@query(
    "lake_count_pushdown",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang
    """,
    "Metadata-only COUNT (round-8, the Iceberg/Delta parity point): "
    "every manifest commit records each file's exact footer row count "
    "(the SAME footer read that records skipping stats; carried files "
    "inherit, so commit cost stays O(new files)), and count(*) — total "
    "and per partition — becomes O(#files) driver-side arithmetic with "
    "ZERO scan. The table is seeded with 2/3 of the corpus and the "
    "rest appended, so the counts under test span inherited AND "
    "newly-recorded entries; the oracle is the plain per-lang count "
    "the engine answered without reading a data byte. Fail-closed: "
    "merge-on-read tombstones or a pre-recording snapshot return None "
    "and the caller scans (pinned in tests/test_manifest.py).",
)
def lake_count_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: a 100 TB count(*) normally costs a full metadata+scan
    job; here it is a manifest read. The per-partition breakdown keys
    on hive directory relpaths, so GROUP BY partition-key counts are
    equally free."""
    from ..sources import append_rows, count_rows, publish_overwrite

    d = load(spark, sf_dir, "documents")
    path = scratch_dir("count_push_") + "/docs"
    publish_overwrite(
        spark, path, d.filter(F.col("doc_id") % 3 != 0), ["lang"],
    )
    append_rows(spark, path, d.filter(F.col("doc_id") % 3 == 0), ["lang"])
    meta = count_rows(path)
    _require(meta is not None and meta["partition_by"] == ["lang"])
    rows = [
        (dirname.split("=", 1)[1], int(n))
        for dirname, n in sorted(meta["partitions"].items())
    ]
    return spark.createDataFrame(rows, "lang string, n_docs long")


@query(
    "lake_rename_column",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_char_count,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM documents GROUP BY lang
    """,
    "Column RENAME without rewrite (round-8, the Delta column-mapping "
    "model; the reference's Glue schema is fixed at CREATE): seed 2/3 "
    "of the corpus, RENAME n_chars to char_count as one metadata "
    "commit (zero bytes moved — old files keep the frozen physical "
    "name), append the remaining 1/3 whose batch arrives under the NEW "
    "logical name (staged back to the physical name so files stay "
    "consistent), then read and aggregate BY THE NEW NAME across both "
    "file generations. The oracle is the full-corpus per-lang profile "
    "over the original column — equality proves the mapping translated "
    "every read and write exactly.",
)
def lake_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: renaming a column on a 100 TB table is one JSON pointer
    commit; reads alias physical->logical in a projection Catalyst
    collapses into the scan, and the mapping heals away at the next
    OPTIMIZE (compact_in_place writes logical-named files). Refusals
    (partition columns, live tombstones, referencing constraints,
    streaming) are pinned in tests/test_rename_column.py."""
    from ..sources import append_rows, publish_overwrite, rename_column
    from ..sources.lake import read_manifest, read_table

    d = load(spark, sf_dir, "documents")
    path = scratch_dir("rename_col_") + "/docs"
    publish_overwrite(
        spark, path, d.filter(F.col("doc_id") % 3 != 0), ["lang"],
    )
    rename_column(path, "n_chars", "char_count")
    batch = d.filter(F.col("doc_id") % 3 == 0).withColumnRenamed(
        "n_chars", "char_count"
    )
    append_rows(spark, path, batch, ["lang"])
    _require(
        read_manifest(path)["column_mapping"] == {"char_count": "n_chars"}
    )
    return (
        read_table(spark, path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("char_count").cast("long").alias("total_char_count"),
            F.sum(
                F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("text_chk"),
        )
    )


@query(
    "lake_snapshot_tags",
    """
    WITH cur AS (
      SELECT doc_id, text, lang, source,
             CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM documents
    )
    SELECT 'tagged' AS snap, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'current' AS snap, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM cur GROUP BY lang
    """,
    "Snapshot TAGS pinning retention (round-8, the Iceberg tag "
    "analog): the seed snapshot is tagged 'training-data-v1', two "
    "merges land, and retention runs at keep_last=1 — which reclaims "
    "ordinary history but MUST keep the tagged snapshot and its files. "
    "The verified read is the union of the tag-resolved read (the "
    "original corpus, byte-reproducible after vacuum) and the current "
    "snapshot (both merges applied); the oracle replays both states. "
    "The body also asserts the untagged intermediate version really "
    "was reclaimed — the pin is surgical, not a retention bypass.",
)
def lake_snapshot_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: a tag is one entry in one JSON file; its retention pin
    costs vacuum exactly the tagged snapshot's file set. The
    training-data story: tag the corpus a run trained on and the run
    stays reproducible while daily history ages out. Erasure drops
    tags (delete_rows: a forget request cannot be pinned around) —
    pinned in tests/test_manifest.py."""
    from ..sources import tag_snapshot, publish_overwrite, vacuum_manifests
    from ..sources.lake import merge_into, read_manifest, read_table

    d = load(spark, sf_dir, "documents")
    path = scratch_dir("snap_tags_") + "/docs"
    publish_overwrite(spark, path, d, ["lang"])
    tag_snapshot(path, "training-data-v1")
    upd = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "n_chars", F.col("n_chars") + 500
    )
    merge_into(spark, path, upd, ["doc_id"], ["lang"], collect_stats=False)
    upd2 = upd.withColumn("n_chars", F.col("n_chars") + 500)
    merge_into(spark, path, upd2, ["doc_id"], ["lang"], collect_stats=False)
    vacuum_manifests(path, keep_last=1)
    try:  # the untagged middle version is really gone
        read_table(spark, path, version=2)
        raise AssertionError("v2 should have been vacuumed")
    except FileNotFoundError:
        pass

    def profile(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        ).select(F.lit(snap).alias("snap"), "lang", "n_docs", "total_chars")

    return profile(
        read_table(spark, path, tag="training-data-v1"), "tagged"
    ).unionByName(profile(read_table(spark, path), "current"))


@query(
    "lake_branch_merge",
    """
    WITH b1 AS (
      SELECT doc_id + 1000000 AS doc_id, text, lang, source,
             n_chars + 1 AS n_chars
      FROM documents WHERE doc_id % 7 = 0
    ), b2 AS (
      SELECT doc_id + 2000000 AS doc_id, text, lang, source,
             n_chars + 2 AS n_chars
      FROM documents WHERE doc_id % 11 = 0
    ), merged AS (
      SELECT * FROM documents
      UNION ALL SELECT * FROM b1
      UNION ALL SELECT * FROM b2
    )
    SELECT 'before' AS snap, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'after' AS snap, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM merged GROUP BY lang
    """,
    "BRANCH commits + fast-forward publication (round-9): the "
    "multi-commit generalization of write-audit-publish. Two ingest "
    "batches commit onto a named branch — real snapshots with stats, "
    "constraints, and the replay ledger — while main readers stay "
    "pinned to the seed (asserted in the body); then ONE atomic "
    "pointer replace publishes the whole chain. The verified read is "
    "the union of main-before-publication (the seed, via the branch "
    "fork's version pin) and main-after; the oracle replays both "
    "states relationally.",
)
def lake_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style branches on plain Parquet (sources/lake.py
    create_branch / append_rows(branch=) / fast_forward).

    Scale: a branch commit costs exactly a main commit (O(batch
    files) + one pointer write) and publication is one rename syscall
    regardless of how many commits or terabytes the branch carries —
    a multi-step backfill becomes atomic-at-publication with zero
    copies. Retention pins the unpublished chain (head -> fork base)
    so routine vacuum cannot destroy an in-progress backfill; a
    dropped branch ages out like any unreferenced history
    (tests/test_branches.py)."""
    from ..sources import (
        append_rows,
        create_branch,
        fast_forward,
        publish_overwrite,
        read_manifest,
        read_table,
    )

    d = load(spark, sf_dir, "documents")
    path = scratch_dir("branch_merge_") + "/docs"
    publish_overwrite(spark, path, d, ["lang"])
    create_branch(path, "backfill")
    b1 = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang",
        "source", (F.col("n_chars") + 1).alias("n_chars"),
    )
    b2 = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text", "lang",
        "source", (F.col("n_chars") + 2).alias("n_chars"),
    )
    append_rows(spark, path, b1, ["lang"], branch="backfill")
    append_rows(spark, path, b2, ["lang"], branch="backfill")
    # main is still the seed while the branch carries both commits
    _require(read_manifest(path)["version"] == 1)
    before = read_table(spark, path, version=1)
    fast_forward(path, "backfill")
    _require(read_manifest(path)["version"] > 1)

    def profile(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        ).select(F.lit(snap).alias("snap"), "lang", "n_docs", "total_chars")

    return profile(before, "before").unionByName(
        profile(read_table(spark, path), "after")
    )


@query(
    "lake_optimize_binpack",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CAST(doc_id AS BIGINT)) AS BIGINT) AS id_chk
    FROM documents GROUP BY lang
    """,
    "Targeted small-file OPTIMIZE (round-9, the Delta bin-packing "
    "semantics): a fragmented table (16-way-shuffled seed publish + "
    "four appends) is bin-packed: ONLY files below the row target "
    "rewrite, read once and written once under the current layout, "
    "every untouched file is carried by name, and the commit is one "
    "snapshot. The body asserts the file "
    "count collapsed, the rewrite touched only the small tail, and the "
    "pre-OPTIMIZE snapshot stays readable; the oracle is the plain "
    "per-language profile (layout changes I/O, never results).",
)
def lake_optimize_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: planning is O(#files) arithmetic on the manifest's own
    recorded row counts (zero I/O); the rewrite reads only small-file
    bytes — at 100 TB that is the streaming-append tail, not the
    table. compact_in_place is the same file replacement over EVERY
    file (rename healing, clustering); this is the maintenance-cadence
    op between those. Packing on tombstoned, renamed and spec-evolved
    tables is pinned in tests/test_manifest.py."""
    from ..sources import append_rows, optimize_binpack, publish_overwrite
    from ..sources.lake import read_manifest, read_table

    d = load(spark, sf_dir, "documents")
    path = scratch_dir("binpack_") + "/docs"
    publish_overwrite(
        spark, path, d.filter(F.col("doc_id") % 5 == 0).repartition(16),
        ["lang"],
    )
    for k in (1, 2, 3):
        append_rows(
            spark, path, d.filter(F.col("doc_id") % 5 == k), ["lang"]
        )
    append_rows(spark, path, d.filter(F.col("doc_id") % 5 == 4), ["lang"])
    before = read_manifest(path)
    out = optimize_binpack(spark, path, target_rows=1_000_000)
    _require(out["files_after"] < out["files_before"], out)
    _require(out["files_rewritten"] == out["files_before"], out)  # all small
    # the pre-OPTIMIZE snapshot is ordinary retained history
    _require(
        read_table(spark, path, version=before["version"]).count()
        == read_table(spark, path).count()
    )
    return (
        read_table(spark, path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(F.col("doc_id").cast("long")).cast("long").alias("id_chk"),
        )
    )
