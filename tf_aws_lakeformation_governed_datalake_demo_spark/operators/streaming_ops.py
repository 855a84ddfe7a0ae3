"""Streaming pipelines registered as driver queries.

Each builder wires the real Structured Streaming pipeline (file source ->
watermark -> stateful op -> memory sink), drives it to completion
synchronously, and returns the result as a batch DataFrame. The tumbling
window aggregation runs in complete mode, so its final output equals the
batch computation — giving it a DuckDB oracle; the others are
approximation-free but append/update-mode shaped, so they get the
rows-only check with semantics asserted in tests/test_streaming.py.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession

from ..streaming import events as se
from .registry import _require, query

_COUNTER = itertools.count()


def _events_width(spark: SparkSession, sf_dir: str) -> int:
    """State-store/shuffle width for streams over the events source —
    the input-size-derived policy (se.stream_state_partitions, round-16
    VERDICT #4): partitions sized to bytes, not the session default."""
    return se.stream_state_partitions(
        spark, se.source_bytes(sf_dir, "events.parquet")
    )


def _run(spark: SparkSession, sf_dir: str, builder, mode: str) -> DataFrame:
    stream = builder(se.read_events_stream(spark, sf_dir))
    name = f"stream_out_{next(_COUNTER)}"
    return se.run_stream_to_batch(
        stream, name, output_mode=mode,
        state_partitions=_events_width(spark, sf_dir),
    )


def _drive_file_stream(
    spark: SparkSession, schema, src: str, sink, ckpt: str
) -> None:
    """Drive a one-file-per-trigger parquet-source foreachBatch stream
    to completion under the input-size-derived shuffle width (r17,
    guide §2.1): the sink body's BATCH jobs (windows, joins, merges)
    plan at spark.sql.shuffle.partitions, and foreachBatch plans get no
    AQE coalescing — at the session default every per-epoch shuffle
    paid 32 near-empty tasks. Width = se.stream_state_partitions over
    the landed source bytes, so it scales with data, not with the
    local core count; restarts replan each batch fresh (batch-plan
    width is NOT checkpoint-pinned), so resume semantics are untouched.
    """
    width = se.stream_state_partitions(spark, se.source_bytes(src))
    with se._with_shuffle_width(spark, width):
        (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


@query(
    "stream_hourly_counts",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(value) AS DOUBLE), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    "Structured Streaming tumbling 1-hour window + watermark, complete "
    "mode (final state == batch aggregation, hence oracle-checkable).",
)
def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, se.stream_hourly_counts, "complete")


@query(
    "stream_hourly_counts_durable",
    """
    WITH mx AS (SELECT max(ts) AS m FROM events),
    agg AS (SELECT date_trunc('hour', ts) AS hour, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   round(CAST(sum(value) AS DOUBLE), 2) AS total_value
            FROM events GROUP BY 1, 2)
    SELECT a.hour, a.event_type, a.n, a.total_value
    FROM agg a, mx
    WHERE a.hour + INTERVAL 1 HOUR <= mx.m - INTERVAL 30 MINUTE
    """,
    "The durable production path: tumbling hourly counts appended to a "
    "parquet file sink with a checkpointLocation (availableNow trigger), "
    "read back from the committed files. Append mode emits exactly the "
    "windows finalized by the watermark, so the oracle is the batch "
    "aggregation restricted to windows whose end precedes "
    "max(ts) - 30min; crash/restart resume semantics are asserted in "
    "tests/test_streaming.py.",
)
def stream_hourly_counts_durable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scratch import scratch_dir

    base = scratch_dir("stream_durable_")
    stream = se.stream_hourly_counts(se.read_events_stream(spark, sf_dir))
    se.run_stream_durable(
        stream, f"{base}/out", f"{base}/ckpt",
        state_partitions=_events_width(spark, sf_dir),
    )
    return spark.read.parquet(f"{base}/out")


@query(
    "stream_sliding_avg",
    """
    WITH g AS (SELECT unnest(range(0, 4)) AS k),
    e AS (SELECT make_timestamp((CAST(floor(epoch(ts) / 900) * 900 AS BIGINT)
                                 - k * 900) * 1000000) AS win_start,
                 event_type,
                 CAST(round(value * 1000000) AS BIGINT) AS lv
          FROM events CROSS JOIN g),
    a AS (SELECT win_start, event_type,
                 CAST(sum(lv) AS DOUBLE) AS sv,
                 CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY 1, 2)
    SELECT win_start, event_type,
           round((sv / 1000000.0) / n, 4) AS avg_value, n
    FROM a
    """,
    "Structured Streaming sliding window (1h window, 15m slide) average "
    "per type, complete mode. Oracle: each event belongs to exactly 4 "
    "slide-aligned windows (window/slide = 4), generated as a cross join "
    "against k in 0..3; means use 1e-6-scaled integer sums so both "
    "engines aggregate order-free.",
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, se.stream_sliding_avg, "complete")


@query(
    "stream_session_windows",
    """
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM o)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    "Structured Streaming session windows (30-min inactivity gap) per "
    "user, complete mode. Oracle: lag/gap-cumsum sessionization (the "
    "events_sessionize pattern); Spark's session end = last event + gap.",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, se.stream_session_windows, "complete")


@query(
    "stream_stateful_user_totals",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(value) AS DOUBLE), 2) AS total_value
    FROM events GROUP BY user_id
    """,
    "Custom stateful streaming operator (applyInPandasWithState): "
    "per-user running totals in explicit group state. With one input "
    "batch the final state equals the batch aggregation, so it is "
    "oracle-checkable.",
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, se.stream_user_totals_stateful, "update")


@query(
    "stream_click_purchase_join",
    """
    SELECT c.user_id,
           c.event_id AS click_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts,
           round(CAST(p.value AS DOUBLE), 2) AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    "Stream-stream interval join with watermark-bounded state: clicks "
    "attributed to same-user purchases within 30 minutes. Inner-join "
    "output over fully-consumed input equals the batch interval join, "
    "hence oracle-checkable.",
)
def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, se.stream_click_purchase_join, "append")


@query(
    "stream_click_purchase_left_join",
    """
    WITH c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id AS pu, ts AS purchase_ts, value
          FROM events WHERE event_type = 'purchase'),
    m AS (SELECT c.user_id, c.click_id, c.click_ts, p.purchase_ts,
                 round(CAST(p.value AS DOUBLE), 2) AS purchase_value
          FROM c JOIN p
            ON c.user_id = p.pu
           AND p.purchase_ts >= c.click_ts
           AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE),
    mx AS (SELECT least((SELECT max(click_ts) FROM c),
                        (SELECT max(purchase_ts) FROM p)) AS mt),
    u AS (SELECT c.user_id, c.click_id, c.click_ts,
                 CAST(NULL AS TIMESTAMP) AS purchase_ts,
                 CAST(NULL AS DOUBLE) AS purchase_value
          FROM c CROSS JOIN mx
          ANTI JOIN (SELECT DISTINCT click_id FROM m) mm USING (click_id)
          WHERE c.click_ts + INTERVAL 30 MINUTE <= mx.mt - INTERVAL 1 HOUR)
    SELECT * FROM m UNION ALL SELECT * FROM u
    """,
    "Stream-stream LEFT OUTER interval join: matches emit as both sides "
    "arrive; a click with no purchase emits null-extended only once the "
    "watermark passes its 30-minute window (state-eviction proof of "
    "absence). Oracle: batch interval join unioned with unmatched clicks "
    "restricted to watermark-closed windows. The watermark is the MIN "
    "across the two watermarked columns (Spark's default "
    "multipleWatermarkPolicy): least(max click_ts, max purchase_ts) - "
    "1h — verified at sf0.001 (where the click side's max lags the "
    "purchase side by hours and withholds one more row than a global-"
    "max watermark would) and sf0.01. Clicks still open when input ends "
    "stay unemitted in BOTH engines.",
)
def stream_click_purchase_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, se.stream_click_purchase_left_join, "append")


@query(
    "stream_attributed_revenue_hourly",
    """
    WITH c AS (SELECT user_id, ts AS click_ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT user_id AS pu, ts AS pts, value FROM events
          WHERE event_type = 'purchase'),
    m AS (SELECT c.click_ts, round(CAST(p.value AS DOUBLE), 2) AS pv
          FROM c JOIN p
            ON c.user_id = p.pu
           AND p.pts >= c.click_ts
           AND p.pts <= c.click_ts + INTERVAL 30 MINUTE),
    mx AS (SELECT least((SELECT max(click_ts) FROM c),
                        (SELECT max(pts) FROM p)) AS mt),
    agg AS (SELECT date_trunc('hour', click_ts) AS hour,
                   CAST(count(*) AS BIGINT) AS n_attributed,
                   round(CAST(sum(pv) AS DOUBLE), 2) AS revenue
            FROM m GROUP BY 1)
    SELECT a.hour, a.n_attributed, a.revenue
    FROM agg a CROSS JOIN mx
    WHERE a.hour + INTERVAL 1 HOUR <= mx.mt - INTERVAL 90 MINUTE
    """,
    "CHAINED stateful streaming (Spark 3.4+ watermark propagation): "
    "stream-stream interval join -> tumbling hourly revenue aggregation "
    "in ONE query, append mode. The join delays the click watermark by "
    "its 30-minute interval bound, so the oracle is the batch "
    "join+aggregate restricted to windows with end <= min(max click_ts, "
    "max purchase_ts) - 1h (watermark) - 30min (join delay) — emitted "
    "window values equal batch exactly.",
)
def stream_attributed_revenue_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, se.stream_attributed_revenue_hourly, "append")


@query(
    "stream_dedup",
    """
    SELECT event_id, ts, user_id, event_type, value, props
    FROM (SELECT *,
                 row_number() OVER (PARTITION BY event_id ORDER BY ts)
                   AS rn
          FROM events)
    WHERE rn = 1
    """,
    "Streaming exact dedup on event_id with watermark-bounded state "
    "(dropDuplicatesWithinWatermark). Oracle: first row per event_id "
    "(row_number over the watermark key); event_ids are unique in the "
    "fixture so this is also the identity — duplicate-injection "
    "semantics (keep-first within watermark, re-emit beyond) are "
    "asserted in tests/test_streaming.py.",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, sf_dir, se.stream_dedup_events, "append")


@query(
    "stream_topk_trending",
    """
    WITH g AS (SELECT unnest(range(0, 4)) AS k),
    e AS (SELECT make_timestamp((CAST(floor(epoch(ts) / 900) * 900 AS BIGINT)
                                 - k * 900) * 1000000) AS win_start,
                 event_type
          FROM events CROSS JOIN g),
    a AS (SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY 1, 2)
    SELECT win_start, event_type, n, CAST(rn AS BIGINT) AS rn FROM (
      SELECT win_start, event_type, n, row_number() OVER (
               PARTITION BY win_start ORDER BY n DESC, event_type) AS rn
      FROM a)
    WHERE rn <= 2
    """,
    "Trending detection: the continuously-maintained sliding-window "
    "(1h/15m) per-type counts, served as the top-2 event types per "
    "window — the streaming-state + serving-layer-rank split every "
    "trending/leaderboard feature uses. Ranking runs over the compact "
    "complete-mode state (windows x types), never the raw stream; "
    "oracle replays the 4-window slide expansion and the ranking.",
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the streamed aggregation holds (windows x types) state —
    tiny relative to the event stream — and the rank window partitions
    by win_start over that state table, so the expensive part stays the
    incremental stream; the serving query is O(state). In production the
    state lands in the durable sink (stream_hourly_counts_durable) and
    this ranking is the read-side query."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    state = _run(spark, sf_dir, se.stream_sliding_avg, "complete")
    win = W.partitionBy("win_start").orderBy(F.desc("n"), "event_type")
    return (
        state.select("win_start", "event_type", "n")
        .withColumn("rn", F.row_number().over(win).cast("long"))
        .filter(F.col("rn") <= 2)
    )


CDC_N_BUCKETS = 8  # dimension partition buckets (user_id % N)


def cdc_latest_per_user(df: DataFrame) -> DataFrame:
    """Collapse a change batch to its newest row per key ((ts, event_id)
    descending), shaped as the dimension row. Shared by the registered
    stream_cdc_upsert pipeline and its restart-resume test so the pinned
    semantics are the shipped code's."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            (F.col("user_id") % CDC_N_BUCKETS).alias("bucket"),
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
    )


def cdc_current_state_pruned(
    spark: SparkSession, dim: str, dim_schema, buckets: list[int]
) -> DataFrame:
    """The per-batch read of the dimension's current key versions,
    PARTITION-PRUNED to the buckets the batch actually touches (round-6
    VERDICT #7): at a 100 TB dimension the comparison join must not
    list or read partitions no incoming key lands in. ``bucket`` is the
    hive partition column, so the IN-filter resolves at planning time
    (PartitionFilters — pinned in tests/test_streaming.py) and the scan
    reads only the touched directories."""
    from pyspark.sql import functions as F

    # read_table: manifest-aware — on a manifest-committed dimension the
    # current SNAPSHOT's files are listed, never historical versions of
    # rewritten buckets (a directory read there would return multiple
    # stored versions per key and corrupt the newer-wins comparison)
    from ..sources.lake import read_table

    return (
        read_table(spark, dim, dim_schema)
        .filter(F.col("bucket").isin(buckets))
        .select(
            "user_id",
            F.col("last_ts").alias("cur_ts"),
            F.col("last_event_id").alias("cur_id"),
        )
    )


def cdc_apply_batch(spark: SparkSession, dim: str, dim_schema, batch: DataFrame) -> None:
    """One CDC micro-batch applied to the bucket-partitioned dimension:
    rank the batch to latest-per-key, keep only rows strictly NEWER
    ((ts, event_id) lexicographic) than the stored version, and MERGE
    the survivors with touched-partition pruning — on BOTH sides: the
    current-state comparison read is pruned to the batch's touched
    buckets (at most CDC_N_BUCKETS distinct values, collected from the
    already-ranked batch — bounded, not data-sized), and the merge
    rewrites only those buckets. Order-tolerant and idempotent —
    replayed or reordered batches cannot corrupt the dimension."""
    from pyspark.sql import functions as F

    from ..sources.lake import merge_into

    latest = cdc_latest_per_user(batch)
    buckets = [
        r.bucket for r in latest.select("bucket").distinct().collect()
    ]  # O(CDC_N_BUCKETS) driver rows
    cur = cdc_current_state_pruned(spark, dim, dim_schema, buckets)
    newer = F.struct("last_ts", "last_event_id") > F.struct("cur_ts", "cur_id")
    # Pin the survivors ONCE, then probe emptiness and merge from the
    # same materialization (r16, guide §2.4: the pre-r16 form evaluated
    # the rank+pruned-read+join chain twice per batch — once for
    # isEmpty, once for merge_into's own checkpoint)
    upd = (
        latest.join(cur, "user_id", "left")
        .filter(F.col("cur_ts").isNull() | newer)
        .drop("cur_ts", "cur_id")
        .localCheckpoint(eager=True)
    )
    if upd.isEmpty():
        return
    merge_into(
        spark,
        dim,
        upd,
        ["user_id"],
        partition_by=["bucket"],
        schema=dim_schema,
        collect_stats=False,  # the sink never reads per-batch stats
        updates_pinned=True,
    )


def cdc_land_change_files(
    df: DataFrame, src: str, tmp_root: str, n: int = 3, key_col: str = "event_id"
) -> None:
    """Split a change set into ``n`` single parquet files under ``src``
    (one micro-batch each) keyed on ``key_col`` % n — interleaving event
    times across files so later batches routinely carry OLDER rows for
    a key than earlier batches did (the out-of-order delivery the
    conditional merge must absorb).

    One Spark job for all ``n`` files (r16, guide §2.4): the pre-r16
    form ran ``n`` filter+repartition(1)+write jobs, each re-evaluating
    the source plan — for the dedup callers that plan is the
    exact-collapse window over the whole corpus, evaluated n times. A
    keyed repartition on the slice id puts every slice wholly in one
    task, so ``partitionBy`` emits exactly one part file per slice; the
    files are then moved into place. Slice membership is unchanged; row
    ORDER within a file is shuffle-arrival order (every consumer of
    these files is order-insensitive: ranks order by (ts, id), pair
    emitters are set-valued)."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    os.makedirs(src, exist_ok=True)
    tmp = f"{tmp_root}/_cdc_tmp"
    spark = df.sparkSession
    n_tasks = max(n, spark.sparkContext.defaultParallelism // 8)
    (
        df.withColumn("__b", (F.col(key_col) % n).cast("int"))
        .repartition(n_tasks, "__b")
        .write.partitionBy("__b")
        .parquet(tmp)
    )
    for i in range(n):
        parts = glob.glob(f"{tmp}/__b={i}/part-*.parquet")
        if parts:
            # keyed repartition => one task => one part file per slice.
            # A real raise, not an assert (r16 ADVICE): moving only
            # parts[0] would silently DROP the rest of the slice's rows,
            # and `python -O` strips asserts — data completeness must
            # not hang on a debug flag. Extra parts can only appear if
            # a session-level maxRecordsPerFile (or similar) splits the
            # task's output.
            if len(parts) != 1:
                raise RuntimeError(
                    f"slice {i} produced {len(parts)} part files "
                    f"({parts}); expected exactly one — is "
                    "maxRecordsPerFile set on this session?"
                )
            shutil.move(parts[0], f"{src}/c{i}.parquet")
        else:
            # empty slice (possible only on degenerate inputs): land an
            # empty single file so the batch count stays n
            df.filter(F.col(key_col) % n == i).repartition(1).write.mode(
                "overwrite"
            ).parquet(f"{tmp_root}/_cdc_tmp_empty")
            shutil.move(
                glob.glob(f"{tmp_root}/_cdc_tmp_empty/part-*.parquet")[0],
                f"{src}/c{i}.parquet",
            )
            shutil.rmtree(f"{tmp_root}/_cdc_tmp_empty")
    shutil.rmtree(tmp)


@query(
    "stream_cdc_upsert",
    """
    SELECT user_id, CAST(user_id % 8 AS BIGINT) AS bucket,
           event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type,
           round(CAST(value AS DOUBLE), 2) AS last_value
    FROM (SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
    "Streaming CDC apply: a change stream (3 parquet files consumed one "
    "per micro-batch, keys arriving out of order across batches) is "
    "upserted into a bucket-partitioned lake dimension via foreachBatch "
    "+ conditional MERGE — an incoming row replaces the stored row only "
    "if (ts, event_id) is newer, so the final state is the global "
    "latest-per-key regardless of batch arrival order. The oracle is "
    "that global latest state over all events.",
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'CDC stream -> lake table' pipeline every warehouse feeds:
    Kafka-shaped change capture applied incrementally to a queryable
    dimension. foreachBatch is Spark's idempotent-sink escape hatch;
    the merge is ORDER-TOLERANT (newer-(ts, id)-wins condition) because
    real CDC streams deliver late and out of order — replaying or
    reordering batches cannot corrupt the dimension.

    Scale: each micro-batch ranks ONLY its own rows, compares against
    the current dimension by key join, and rewrites only partitions
    holding updated keys (sources.lake.merge_into partition pruning via
    the user_id bucket). Dimension reads use the declared schema — no
    footer scans per batch. The checkpointLocation makes restarts
    resume at the unprocessed file."""
    from pyspark.sql import functions as F

    from ..scratch import scratch_dir
    from ..sources import load, read_table, write_partitioned

    e = load(spark, sf_dir, "events")
    base = scratch_dir("cdc_upsert_")
    dim = f"{base}/dim"
    src = f"{base}/changes"

    seed = e.filter(F.col("event_id") % 7 == 0)
    seed_latest = cdc_latest_per_user(seed)
    write_partitioned(seed_latest, dim, partition_by=["bucket"])
    dim_schema = seed_latest.schema

    cdc_land_change_files(e.filter(F.col("event_id") % 7 != 0), src, base)

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        cdc_apply_batch(spark, dim, dim_schema, batch)

    _drive_file_stream(spark, e.schema, src, apply_batch, f"{base}/ckpt")

    return read_table(spark, dim).select(
        "user_id",
        F.col("bucket").cast("long").alias("bucket"),
        "last_event_id",
        "last_ts",
        "last_type",
        F.round("last_value", 2).alias("last_value"),
    )


@query(
    "stream_enriched_region_counts",
    """
    SELECT date_trunc('hour', e.ts) AS hour, n.n_name AS region,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(e.value * 1000000) AS BIGINT)) / 1000000.0, 2)
             AS total_value
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY 1, 2
    """,
    "Stream-static dimension enrichment: the event stream joins the "
    "static nation dimension (broadcast — no stream-side state, no "
    "watermark needed for the join) before a tumbling hourly "
    "aggregation per region, complete mode. The missing classic among "
    "the streaming shapes: every production stream is enriched against "
    "slowly-changing reference data exactly like this.",
)
def stream_enriched_region_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: a stream-STATIC join keeps zero join state — the static
    side broadcasts to every task and each micro-batch probes it
    map-side (contrast stream-stream joins, whose state grows with the
    watermark window). The static table is re-read per micro-batch in
    availableNow mode, so a dimension refresh lands without restarting
    the query; pair with scd2_as_of reads for point-in-time-correct
    enrichment. Aggregation state is (hours x regions) — tiny. Value
    sums are 1e-6-scaled integers (order-free, oracle-exact)."""
    from pyspark.sql import functions as F

    from ..sources import load

    nation = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        F.col("n_name").alias("region"),
    )
    events = se.read_events_stream(spark, sf_dir)
    enriched = events.join(
        F.broadcast(nation), events["user_id"] % 25 == nation["n_nationkey"]
    )
    agg = (
        enriched.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "region")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 1000000).cast("long")).alias("sv"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "region",
            "n",
            F.round(F.col("sv").cast("double") / 1000000.0, 2).alias("total_value"),
        )
    )
    name = f"stream_out_{next(_COUNTER)}"
    return se.run_stream_to_batch(
        agg, name, output_mode="complete",
        state_partitions=_events_width(spark, sf_dir),
    )


@query(
    "stream_topk_trending_durable",
    """
    WITH g AS (SELECT unnest(range(0, 4)) AS k),
    mx AS (SELECT max(ts) AS m FROM events),
    e AS (SELECT make_timestamp((CAST(floor(epoch(ts) / 900) * 900 AS BIGINT)
                                 - k * 900) * 1000000) AS win_start,
                 event_type
          FROM events CROSS JOIN g),
    a AS (SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY 1, 2),
    f AS (SELECT a.win_start, a.event_type, a.n FROM a, mx
          WHERE a.win_start + INTERVAL 1 HOUR <= mx.m - INTERVAL 30 MINUTE)
    SELECT win_start, event_type, n, CAST(rn AS BIGINT) AS rn FROM (
      SELECT win_start, event_type, n, row_number() OVER (
               PARTITION BY win_start ORDER BY n DESC, event_type) AS rn
      FROM f)
    WHERE rn <= 2
    """,
    "The PRODUCTION trending path (round-6 VERDICT #6): the sliding "
    "(1h/15m) per-type counts flow through the checkpointed APPEND-mode "
    "parquet sink — state bounded by the watermark, each window emitted "
    "exactly once when finalized, restart-resume proven in "
    "tests/test_streaming.py — and the serving-side rank (top-2 per "
    "window) runs over the committed files. Oracle: the 4-window slide "
    "expansion restricted to watermark-finalized windows (win_start + "
    "1h <= max(ts) - 30min), ranked identically.",
)
def stream_topk_trending_durable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unlike the complete-mode registry form (stream_topk_trending,
    whose state is every window ever seen), this composes the SAME
    sliding aggregation through run_stream_durable: append mode +
    watermark means the state store holds only open windows, the sink
    is the history, and a restart resumes from the checkpoint. The
    rank is a read-side query over the sink — O(committed state),
    never the raw stream."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ..scratch import scratch_dir

    base = scratch_dir("trending_durable_")
    stream = se.stream_sliding_avg(se.read_events_stream(spark, sf_dir))
    se.run_stream_durable(
        stream, f"{base}/out", f"{base}/ckpt",
        state_partitions=_events_width(spark, sf_dir),
    )
    state = spark.read.parquet(f"{base}/out")
    win = W.partitionBy("win_start").orderBy(F.desc("n"), "event_type")
    return (
        state.select("win_start", "event_type", "n")
        .withColumn("rn", F.row_number().over(win).cast("long"))
        .filter(F.col("rn") <= 2)
    )


@query(
    "stream_scd2_enrichment",
    """
    WITH mid AS (SELECT date_trunc('day', max(ts)) AS m FROM events)
    SELECT date_trunc('hour', e.ts) AS hour,
           CASE WHEN e.user_id % 3 = 0 AND e.ts >= mid.m
                THEN 'gold' ELSE 'bronze' END AS tier,
           CAST(count(*) AS BIGINT) AS n
    FROM events e CROSS JOIN mid
    GROUP BY 1, 2
    """,
    "POINT-IN-TIME-correct stream enrichment: each event joins the SCD2 "
    "user-tier dimension version valid AT THE EVENT'S OWN TIMESTAMP "
    "(e.ts within [effective_from, effective_to)), not the current "
    "version — so events from before a tier change aggregate under the "
    "old tier and later events under the new one, exactly what "
    "training-data / revenue attribution pipelines need when reference "
    "data changes mid-stream. The dimension is built by a real "
    "scd2_apply (all users bronze, %3 users promoted to gold at "
    "date_trunc('day', max(ts))); the oracle replays the tier function "
    "per event.",
)
def stream_scd2_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition the stream_enriched_region_counts docstring promises:
    stream-STATIC join where the static side is the versioned dimension
    and the join predicate is the validity-range as-of condition. Zero
    join state (static side broadcasts; the range predicate evaluates
    map-side per batch); a dimension refresh (next scd2_apply) lands at
    the next micro-batch without restarting the query. Aggregation
    state is (hours x tiers) — tiny."""
    import datetime

    from pyspark.sql import functions as F

    from ..scratch import scratch_dir
    from ..sources import load, read_table, scd2_apply

    e = load(spark, sf_dir, "events")
    mid = spark.sql(
        "SELECT date_trunc('DAY', max(ts)) AS m FROM {e}", e=e
    ).first()[0]
    dim = scratch_dir("scd2_enrich_") + "/dim"
    users = e.select("user_id").distinct()
    (
        users.withColumn("tier", F.lit("bronze"))
        .withColumn(
            "effective_from", F.lit(datetime.datetime(2000, 1, 1))
        )
        .withColumn("effective_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .write.parquet(dim)
    )
    promo = (
        users.filter(F.col("user_id") % 3 == 0)
        .withColumn("tier", F.lit("gold"))
    )
    scd2_apply(
        spark, dim, promo, key_cols=["user_id"], change_cols=["tier"],
        as_of=mid, collect_stats=False,
    )

    d = F.broadcast(
        read_table(spark, dim).select(
            F.col("user_id").alias("d_user_id"),
            "tier",
            "effective_from",
            "effective_to",
        )
    )
    events = se.read_events_stream(spark, sf_dir)
    enriched = events.join(
        d,
        (events["user_id"] == d["d_user_id"])
        & (events["ts"] >= d["effective_from"])
        & (d["effective_to"].isNull() | (events["ts"] < d["effective_to"])),
    )
    agg = (
        enriched.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "tier")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("hour"), "tier", "n")
    )
    name = f"stream_out_{next(_COUNTER)}"
    return se.run_stream_to_batch(
        agg, name, output_mode="complete",
        state_partitions=_events_width(spark, sf_dir),
    )


def stream_lake_append(
    spark: SparkSession,
    src: str,
    src_schema,
    table_path: str,
    partition_by: list[str] | None = None,
    stream_id: str = "lake_append",
    checkpoint: str | None = None,
    branch: str | None = None,
) -> None:
    """Run a file-source stream to completion (availableNow, one file
    per micro-batch) through the transactional lake-append sink: each
    micro-batch is one :func:`..sources.lake.append_rows` manifest
    commit carrying ``(stream_id, epoch_id)`` in the snapshot's
    ``app_versions`` ledger. Structured Streaming's delivery contract
    to foreachBatch is at-least-once; the ledger turns replays
    (restart after a crash between the sink commit and the checkpoint
    advance — or a lost checkpoint entirely) into no-ops, so the TABLE
    state is exactly-once. This is the Delta streaming-sink `txn`
    protocol on plain Parquet.

    Scale: each batch is repartitioned to one file per touched
    partition before staging, and the commit is O(batch files) —
    parent files are carried by name, never listed or rewritten;
    small-file pressure from long-running streams is the normal
    compact_in_place maintenance path.

    ``branch=`` routes every micro-batch commit onto a named branch
    (staged ingestion): main readers never see the stream until a
    fast_forward publishes the whole chain — with the ledger riding
    the branch head, so replays stay no-ops on the branch too."""

    def sink(batch: DataFrame, epoch_id: int) -> None:
        from ..sources.lake import append_rows

        if partition_by:
            batch = batch.repartition(*partition_by)
        append_rows(
            spark,
            table_path,
            batch,
            partition_by=partition_by,
            stream_id=stream_id,
            batch_id=epoch_id,
            branch=branch,
        )

    from ..scratch import scratch_dir

    _drive_file_stream(
        spark,
        src_schema,
        src,
        sink,
        checkpoint or scratch_dir("lake_append_ckpt_") + "/ckpt",
    )


@query(
    "stream_lake_append_txn",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
           round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 2)
             AS total_value
    FROM events GROUP BY event_type
    """,
    "Transactional streaming ingestion into a manifest lake table "
    "(round-8): the event stream (4 parquet files, one micro-batch "
    "each) lands via foreachBatch append_rows — every batch is one "
    "atomic manifest commit recording (stream_id, batch_id) in the "
    "snapshot's app_versions ledger, so a REPLAYED batch (delivered "
    "again after a crash before the checkpoint advanced) commits "
    "nothing: the body re-appends batch 0's rows under its original id "
    "and asserts the skip. n = n_ids per type proves no event was "
    "double-appended; the oracle is the plain per-type profile of the "
    "source.",
)
def stream_lake_append_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The missing half of the CDC story: stream_cdc_upsert MERGES into
    a dimension; fact/event firehoses APPEND — and exactly-once append
    needs a transactional ledger, not idempotent rewrites (there is no
    key to merge on; re-delivery would simply duplicate rows). Restart
    semantics (fresh-checkpoint full replay appends nothing) are
    proven in tests/test_lake_append.py.

    Scale: commit cost is O(batch files) — the parent snapshot's file
    list is carried by name with inherited stats, so a year-long
    stream's 10^5th commit costs the same as its first; readers always
    plan against one committed snapshot (no torn reads during a
    commit), and time travel falls out (each batch is a version).
    """
    from pyspark.sql import functions as F

    from ..scratch import scratch_dir
    from ..sources import load
    from ..sources.lake import append_rows, read_manifest, read_table

    e = load(spark, sf_dir, "events")
    base = scratch_dir("lake_append_")
    src = f"{base}/incoming"
    path = f"{base}/facts"
    cdc_land_change_files(e, src, base, n=4)

    stream_lake_append(
        spark, src, e.schema, path,
        partition_by=["event_type"], stream_id="ingest",
        checkpoint=f"{base}/ckpt",
    )

    # a replayed batch must be a no-op: re-deliver batch 0's rows under
    # its original epoch id — the ledger (high-water mark 3) skips it
    replay = append_rows(
        spark, path, e.filter(F.col("event_id") % 4 == 0),
        partition_by=["event_type"], stream_id="ingest", batch_id=0,
    )
    _require(replay is None, "replayed batch was committed twice")
    snap = read_manifest(path)
    _require(
        snap["version"] == 4 and snap["app_versions"]["ingest"] == 3,
        snap,
    )

    return (
        read_table(spark, path, schema=e.schema)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_id").alias("n_ids"),
            F.round(
                F.sum(F.round(F.col("value") * 1000000).cast("long"))
                / 1000000.0,
                2,
            ).alias("total_value"),
        )
    )


@query(
    "stream_from_lake_source",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 2)
             AS total_value
    FROM events GROUP BY event_type
    """,
    "Structured Streaming FROM the lake table (round-8): a manifest "
    "table built by one publish + two transactional appends is read "
    "through the registered lake_manifest Python data source — stream "
    "offsets ARE snapshot versions, each micro-batch's partitions are "
    "the files the next snapshot added, read executor-side as Arrow "
    "batches with hive partition values recovered from the paths — "
    "and aggregated per event type. The three snapshots union to the "
    "whole events table, so the oracle is the plain per-type profile; "
    "append-only enforcement, ignoreChanges, retention-bounded resume, "
    "and restart-at-offset semantics are pinned in "
    "tests/test_manifest_stream.py.",
)
def stream_from_lake_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The source half of the lake-streaming loop (stream_lake_append_txn
    is the sink half): downstream consumers subscribe to a governed
    lake table the way they would a Kafka topic, with the manifest
    chain as the offset log. Scale: offset discovery is two manifest
    reads — no file listing; a micro-batch plans O(new files)
    partitions regardless of table size; rows never pass through the
    driver (pyarrow reads on executors)."""
    from pyspark.sql import functions as F

    from ..scratch import scratch_dir
    from ..sources import append_rows, load, publish_overwrite
    from ..sources.manifest_stream import register_lake_manifest_source

    register_lake_manifest_source(spark)
    e = load(spark, sf_dir, "events")
    path = scratch_dir("lake_src_") + "/events"
    # one file per partition per commit: each stream input partition is
    # one Python-worker task, so a 32-way staged write would hand the
    # source ~16x more (tiny) partitions for the same bytes. r16: the
    # keyed repartition is bounded to cores/8 write tasks — each value
    # still lands wholly in one task (one file per partition per
    # commit holds), but the staged write stops paying 32 fixed
    # per-task committer costs for a handful of event types (guide §6)
    n_w = max(1, spark.sparkContext.defaultParallelism // 8)
    publish_overwrite(
        spark,
        path,
        e.filter(F.col("event_id") % 3 == 0).repartition(n_w, "event_type"),
        ["event_type"],
    )
    for k in (1, 2):
        append_rows(
            spark,
            path,
            e.filter(F.col("event_id") % 3 == k).repartition(n_w, "event_type"),
            ["event_type"],
        )
    agg = (
        spark.readStream.format("lake_manifest")
        .schema(e.schema)
        .load(path)
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
    name = f"stream_out_{next(_COUNTER)}"
    return se.run_stream_to_batch(
        agg, name, output_mode="complete",
        state_partitions=se.stream_state_partitions(
            spark, se.source_bytes(path)
        ),
    )


@query(
    "stream_branch_ingest",
    """
    WITH seed AS (SELECT * FROM events WHERE event_id % 4 = 3)
    SELECT 'before' AS snap, event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 2)
             AS total_value
    FROM seed GROUP BY event_type
    UNION ALL
    SELECT 'after' AS snap, event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0, 2)
             AS total_value
    FROM events GROUP BY event_type
    """,
    "STAGED streaming ingestion (round-9): the event stream lands as "
    "transactional micro-batch commits on a BRANCH of the manifest "
    "table — main readers stay pinned to the seed through all three "
    "batches (asserted in the body, and the replay ledger rides the "
    "branch head) — then ONE fast-forward pointer replace publishes "
    "the whole ingest chain. The verified read is the union of "
    "main-before-publication and main-after; the oracle replays both "
    "states relationally.",
)
def stream_branch_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish for STREAMS: stream_lake_append_txn gives
    exactly-once appends, but every batch is immediately visible —
    fine for a firehose, wrong for an ingest that must be validated
    as a whole (a bad upstream day, a schema-drift window). Branch
    ingestion stages the stream invisibly at full transactional
    fidelity, audits the branch head like any snapshot, and publishes
    with one rename — or drops the branch and loses nothing but the
    staged files.

    Scale: identical per-batch cost to the main-pointer stream (one
    O(batch files) commit + one sidecar write); publication is one
    syscall regardless of how many batches the branch carries."""
    from pyspark.sql import functions as F

    from ..scratch import scratch_dir
    from ..sources import (
        create_branch,
        fast_forward,
        load,
        publish_overwrite,
        read_manifest,
        read_table,
    )

    e = load(spark, sf_dir, "events")
    base = scratch_dir("branch_ingest_")
    src = f"{base}/incoming"
    path = f"{base}/facts"
    seed = e.filter(F.col("event_id") % 4 == 3)
    arriving = e.filter(F.col("event_id") % 4 != 3)
    publish_overwrite(spark, path, seed, ["event_type"])
    create_branch(path, "ingest")
    cdc_land_change_files(arriving, src, base, n=3)
    stream_lake_append(
        spark, src, e.schema, path,
        partition_by=["event_type"], stream_id="staged",
        checkpoint=f"{base}/ckpt", branch="ingest",
    )
    # main is still the seed; the branch ledger holds the high-water mark
    _require(read_manifest(path)["version"] == 1)
    before = read_table(spark, path, schema=e.schema, version=1)
    snap = fast_forward(path, "ingest")
    _require(snap["app_versions"]["staged"] == 2, snap)

    def profile(df: DataFrame, snap_name: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("value") * 1000000).cast("long"))
                / 1000000.0,
                2,
            ).alias("total_value"),
        ).select(
            F.lit(snap_name).alias("snap"), "event_type", "n", "total_value"
        )

    return profile(before, "before").unionByName(
        profile(read_table(spark, path, schema=e.schema), "after")
    )


@query(
    "stream_mv_refresh",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    "Streaming materialized-view maintenance (round-10, composing the "
    "S25 transactional sink with the L9 MV machinery): a documents "
    "stream lands on a governed manifest table via foreachBatch "
    "append_rows (stream_id/batch_id ledger), and the SAME sink calls "
    "refresh_materialized_view after each commit — so the MV trails "
    "the table by at most one micro-batch. A replayed batch appends "
    "nothing (ledger) and the follow-up refresh is a no-op (the MV's "
    "own watermark is already at the head). Oracle = full recompute "
    "over the complete corpus: hash equality proves per-batch "
    "incremental maintenance converged to the recompute.",
)
def stream_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB the MV can never be recomputed per batch: each refresh
    here reads only the files the batch's commit added (table_changes
    from the MV's manifest watermark) + the O(groups) state — cost per
    micro-batch is O(batch), independent of table size. Restart
    semantics (fresh checkpoint replays every file; table AND MV state
    unchanged) are pinned in tests/test_mv.py."""
    from pyspark.sql import functions as F

    from ..catalog import GovernedCatalog, TableDef
    from ..engine import Engine
    from ..scratch import scratch_dir
    from ..sources import load, publish_overwrite
    from ..sources.lake import append_rows, read_manifest

    d = load(spark, sf_dir, "documents")
    base = scratch_dir("stream_mv_")
    cat = GovernedCatalog(spark, lake_root=base)
    cat.create_database("db")
    cat.set_admins(["ops"])
    loc = f"{base}/docs"
    seed = d.filter(F.col("doc_id") % 2 == 0)
    arriving = d.filter(F.col("doc_id") % 2 == 1)
    publish_overwrite(spark, loc, seed, ["lang"])
    cat.register_table(
        TableDef("db", "docs", loc, schema=d.schema, partition_keys=("lang",))
    )
    eng = Engine(spark, cat)
    eng.create_materialized_view(
        "db.docs_mv",
        "db.docs",
        ["lang"],
        {"n_docs": ("count", None), "total_chars": ("sum", "n_chars")},
        principal="ops",
    )
    src = f"{base}/incoming"
    cdc_land_change_files(arriving, src, base, n=3, key_col="doc_id")

    def sink(batch: DataFrame, epoch_id: int) -> None:
        committed = append_rows(
            spark,
            loc,
            # cores/8 keyed write tasks: one file per lang per commit
            # holds, without 32 fixed per-task committer costs (r16 §6)
            batch.repartition(
                max(1, spark.sparkContext.defaultParallelism // 8), "lang"
            ),
            partition_by=["lang"],
            stream_id="mv_ingest",
            batch_id=epoch_id,
        )
        if committed is not None:  # replays skip the refresh too
            eng.refresh_materialized_view("db.docs_mv", principal="ops")

    _drive_file_stream(spark, d.schema, src, sink, f"{base}/ckpt")

    # replayed batch: the ledger skips the append, so the sink skips
    # the refresh; a direct refresh is a no-op (watermark at head)
    replay = append_rows(
        spark,
        loc,
        arriving.filter(F.col("doc_id") % 3 == 0),
        partition_by=["lang"],
        stream_id="mv_ingest",
        batch_id=0,
    )
    _require(replay is None, "replayed batch was committed twice")
    r = eng.refresh_materialized_view("db.docs_mv", principal="ops")
    _require(not r["refreshed"], r)
    snap = read_manifest(loc)
    _require(snap["app_versions"]["mv_ingest"] == 2, snap)

    return eng.sql(
        "SELECT lang, n_docs, total_chars FROM db.docs_mv", "ops"
    )


@query(
    "stream_txlog_ingest",
    """
    WITH agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY event_type
    )
    SELECT event_type, n, cents, n AS n_stats, cents AS cents_stats
    FROM agg
    """,
    "Streaming x transaction-log composition (round-12): a fact "
    "firehose AND its per-type summary table ingested by ONE "
    "foreachBatch sink that wraps each micro-batch in "
    "Engine.lake_transaction — the batch's fact append and its stats "
    "delta commit as a single _txlog record, so even a txn-aware "
    "reader racing the stream can never see a batch's facts without "
    "its stats (or vice versa). The (stream_id, epoch) ledger rides "
    "each staging branch, so a REPLAYED batch stages nothing and the "
    "transaction degenerates to a no-op cut — exactly-once CROSS-TABLE "
    "state from at-least-once delivery (replay probed in the body). "
    "Oracle: both tables reduce to the same per-type profile; hash "
    "equality proves every (facts, stats) pair landed consistently.",
)
def stream_txlog_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: per batch — O(batch files) branch commits x 2 tables +
    ONE O(tables) record rename; the summary table receives O(types)
    rows per batch. This is the Delta txn-sink protocol upgraded from
    per-table to cross-table atomicity."""
    from pyspark.sql import functions as F

    from ..catalog import GovernedCatalog, TableDef
    from ..engine import Engine
    from ..scratch import scratch_dir
    from ..sources import load
    from ..sources.lake import publish_overwrite, read_manifest
    from ..sources.txlog import txlog_current

    e = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 1000000).cast("long")
    base = scratch_dir("txlog_stream_")
    src = f"{base}/incoming"
    cdc_land_change_files(e, src, base, n=3)

    cat = GovernedCatalog(spark, lake_root=base)
    cat.create_database("db")
    cat.set_admins(["ops"])
    seed = e.limit(0)
    seed_stats = spark.createDataFrame(
        [], "event_type string, n long, cents long"
    )
    publish_overwrite(
        spark, f"{base}/facts", seed, ["event_type"]
    )
    publish_overwrite(spark, f"{base}/stats", seed_stats, None)
    cat.register_table(
        TableDef("db", "facts", f"{base}/facts", schema=e.schema,
                 partition_keys=("event_type",))
    )
    cat.register_table(
        TableDef("db", "stats", f"{base}/stats", schema=seed_stats.schema)
    )
    eng = Engine(spark, cat)

    def stats_of(batch: DataFrame) -> DataFrame:
        return batch.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).alias("cents"),
        )

    def sink(batch: DataFrame, epoch_id: int) -> None:
        def writer(stage):
            stage.append("db.facts", batch,
                         stream_id="ingest", batch_id=epoch_id)
            stage.append("db.stats", stats_of(batch),
                         stream_id="ingest", batch_id=epoch_id)

        eng.lake_transaction(["db.facts", "db.stats"], writer, "ops")

    _drive_file_stream(spark, e.schema, src, sink, f"{base}/ckpt")

    # replay probe: re-deliver batch 0 — the branch ledger stages
    # nothing, the transaction is a no-op cut, table versions hold
    v_before = read_manifest(f"{base}/facts")["version"]
    sink(e.filter(F.col("event_id") % 3 == 0), 0)
    _require(read_manifest(f"{base}/facts")["version"] == v_before)
    rec = txlog_current(base)
    _require(rec is not None and rec["seq"] == 4, rec)  # 3 batches + no-op

    facts = (
        eng.table_txn("db.facts", "ops")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).alias("cents"),
        )
    )
    stats = (
        eng.table_txn("db.stats", "ops")
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_stats"),
            F.sum("cents").cast("long").alias("cents_stats"),
        )
    )
    return facts.join(stats, "event_type").select(
        "event_type", "n", "cents", "n_stats", "cents_stats"
    )


@query(
    "stream_partition_overwrite",
    """
    WITH ranked AS (
      SELECT lang, row_number() OVER (ORDER BY lang) AS rn
      FROM (SELECT DISTINCT lang FROM documents)),
    v AS (
      SELECT d.doc_id,
             CASE WHEN r.rn <= 3 THEN upper(d.text) ELSE d.text END AS text,
             d.lang, d.n_chars
      FROM documents d JOIN ranked r ON d.lang = r.lang)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS text_chk
    FROM v GROUP BY lang
    """,
    "Streaming partition REPROCESS (round 12): each micro-batch "
    "carries one language's fully re-derived content and lands as ONE "
    "atomic dynamic-partition overwrite, with (stream_id, epoch) in "
    "the manifest ledger. The body then re-delivers batch 0's ORIGINAL "
    "(untransformed) content under its epoch id and asserts the skip — "
    "the case where content-idempotence alone would silently roll the "
    "partition back, which is exactly what the ledger exists to "
    "prevent. The oracle transforms the three alphabetically-first "
    "languages declaratively.",
)
def stream_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse backfill pattern: late corrections re-derive whole
    partitions (never row-merges — there may be no stable key), the
    stream delivers at-least-once, and the table must end exactly-once.
    Composition of the file-source stream, foreachBatch, and
    overwrite_partitions' replay ledger.

    Scale: per batch, staging writes only that partition's files and
    the commit carries every other partition BY NAME — a year of daily
    partition reprocessing costs the same per day on a 100 TB table as
    on this fixture."""
    from pyspark.sql import functions as F

    from ..scratch import scratch_dir
    from ..sources import load
    from ..sources.lake import (
        overwrite_partitions,
        publish_overwrite,
        read_manifest,
        read_table,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    base = scratch_dir("stream_ow_")
    path = f"{base}/docs"
    publish_overwrite(spark, path, d, ["lang"])  # v1

    langs = [r.lang for r in d.select("lang").distinct().collect()]
    targets = sorted(langs)[:3]
    src = f"{base}/incoming"
    import os
    import shutil

    os.makedirs(src, exist_ok=True)
    for i, lg in enumerate(targets):
        tmp = f"{base}/_tmp{i}"
        (
            d.filter(F.col("lang") == lg)
            .withColumn("text", F.upper("text"))
            .repartition(1)
            .write.parquet(tmp)
        )
        import glob

        (part,) = glob.glob(f"{tmp}/part-*.parquet")
        shutil.move(part, f"{src}/batch{i}.parquet")
        shutil.rmtree(tmp)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        overwrite_partitions(
            spark, path, batch, ["lang"],
            stream_id="reproc", batch_id=epoch_id,
        )

    _drive_file_stream(spark, d.schema, src, sink, f"{base}/ckpt")

    # replay probe with the ORIGINAL batch-0 content: without the
    # ledger this would be a "valid" overwrite that rolls the
    # partition back; the high-water mark makes it a no-op
    replay = overwrite_partitions(
        spark, path,
        d.filter(F.col("lang") == targets[0]), ["lang"],
        stream_id="reproc", batch_id=0,
    )
    _require(replay is None, "replayed epoch was committed twice")
    snap = read_manifest(path)
    _require(
        snap["version"] == 4 and snap["app_versions"]["reproc"] == 2,
        snap,
    )

    return (
        read_table(spark, path, schema=d.schema)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.sum(
                F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
            ).cast("long").alias("text_chk"),
        )
    )


@query(
    "stream_cdc_with_deletes",
    """
    WITH marked AS (
      SELECT user_id, event_id, ts, event_type, value,
             (event_id % 5 = 4) AS deleted
      FROM events),
    latest AS (
      SELECT user_id, event_type, value, deleted,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM marked)
    SELECT event_type AS last_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM latest WHERE rn = 1 AND NOT deleted
    GROUP BY 1
    """,
    "CDC apply WITH delete tombstones (round-13) — the op='D' half "
    "stream_cdc_upsert lacks: every change (deletes included, flagged "
    "deterministically as event_id % 5 = 4) merges newer-wins into "
    "the bucket-partitioned dimension carrying a `deleted` flag, so "
    "the pipeline is ORDER-TOLERANT for deletes too — a tombstone "
    "remembers its (ts, id) version and an older out-of-order update "
    "arriving in a LATER batch cannot resurrect the key (the classic "
    "CDC-delete hazard; the land-files split interleaves exactly that "
    "delivery). After the stream drains, delete_rows purges tombstone "
    "rows physically (safe only once no more batches can arrive — "
    "the soft-delete/purge separation IS the design). Oracle replays "
    "latest-per-key over the full change set, dropping keys whose "
    "newest change is a delete.",
)
def stream_cdc_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB: identical per-batch shape to stream_cdc_upsert (ranked
    batch, bucket-pruned comparison read, touched-partition merge) —
    the delete flag rides the merged row, adding zero extra jobs per
    batch; the one-time purge is a predicate delete bounded to
    partitions holding tombstones. Integer-cents aggregation keeps the
    verdict order-free."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ..scratch import scratch_dir
    from ..sources import load, write_partitioned
    from ..sources.lake import delete_rows, merge_into, read_table

    e = load(spark, sf_dir, "events").withColumn(
        "deleted", F.col("event_id") % 5 == 4
    )
    base = scratch_dir("cdc_del_")
    dim = f"{base}/dim"
    src = f"{base}/changes"

    def latest_per_user(df: DataFrame) -> DataFrame:
        w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                (F.col("user_id") % CDC_N_BUCKETS).alias("bucket"),
                F.col("event_id").alias("last_event_id"),
                F.col("ts").alias("last_ts"),
                F.col("event_type").alias("last_type"),
                F.col("value").alias("last_value"),
                "deleted",
            )
        )

    seed = latest_per_user(e.filter(F.col("event_id") % 7 == 0))
    write_partitioned(seed, dim, partition_by=["bucket"])
    dim_schema = seed.schema

    cdc_land_change_files(e.filter(F.col("event_id") % 7 != 0), src, base)

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        latest = latest_per_user(batch)
        buckets = [
            r.bucket for r in latest.select("bucket").distinct().collect()
        ]  # O(CDC_N_BUCKETS) driver rows
        cur = cdc_current_state_pruned(spark, dim, dim_schema, buckets)
        newer = F.struct("last_ts", "last_event_id") > F.struct(
            "cur_ts", "cur_id"
        )
        # pin once; emptiness probe and merge share the materialization
        # (the cdc_apply_batch r16 note)
        upd = (
            latest.join(cur, "user_id", "left")
            .filter(F.col("cur_ts").isNull() | newer)
            .drop("cur_ts", "cur_id")
            .localCheckpoint(eager=True)
        )
        if upd.isEmpty():
            return
        merge_into(
            spark,
            dim,
            upd,
            ["user_id"],
            partition_by=["bucket"],
            schema=dim_schema,
            collect_stats=False,
            updates_pinned=True,
        )

    _drive_file_stream(spark, e.schema, src, apply_batch, f"{base}/ckpt")
    # the stream has drained: purge tombstones physically (before this
    # point the tombstone's (ts, id) is what makes deletes
    # order-tolerant; purging earlier would let an older update
    # resurrect the key)
    delete_rows(
        spark, dim, F.col("deleted"), partition_col="bucket",
        schema=dim_schema,
    )
    return (
        read_table(spark, dim, dim_schema)
        .groupBy("last_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.round(F.col("last_value") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
    )
