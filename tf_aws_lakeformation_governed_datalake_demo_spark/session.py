"""SparkSession factory tuned for the governed-lake engine.

Defaults are chosen for correctness-vs-DuckDB comparison (UTC session
timezone) and for scale discipline (AQE on, shuffle partitions sized to
cores locally — on a real cluster this is overridden to ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "lakehouse-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes: on a 1000-executor cluster these same settings apply,
    except ``shuffle_partitions`` should be ~2-3x total executor cores and
    ``spark.sql.files.maxPartitionBytes`` left at 128m so a 100 TB scan
    yields ~800k input splits — the AQE coalescer merges small post-shuffle
    partitions so an over-provisioned shuffle width is safe.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if master.startswith("local") else 200

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalescing, join-strategy switching, skew-join split.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r17 (guide §2.2): respect the advisory partition size (64 MB
        # default) when coalescing instead of "parallelism first", which
        # refuses to coalesce below defaultParallelism — with it on,
        # every tiny post-shuffle stage still ran `cores` near-empty
        # tasks (measured: 32-task 20 ms stages throughout the MV/merge
        # protocol paths). Size-adaptive by construction: a shuffle's
        # width now tracks its BYTES (a 100 TB shuffle still fans out to
        # bytes/64 MB partitions; raise the advisory via extra_conf on
        # clusters that want bigger reducers).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas-UDF path and createDataFrame(pandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # DuckDB oracle comparison: timestamps must be UTC-stable.
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) (events.ts) is read as long nanos; the
        # lake loader converts to microsecond timestamps (DuckDB parity).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate turns explode(arr) into an inferred
        # size(arr)>0 filter that predicate pushdown then inlines BELOW
        # the projection computing arr — when arr is an expensive
        # pipeline (shingle hashing, LSH keys), the whole expression runs
        # 3x per row (filter size + filter notnull + project). Measured
        # on this engine's dedup/decontaminate family: 2-3x per-query
        # slowdown. The rule only saves exploding already-empty arrays,
        # which Generate drops for free, so excluding it is
        # semantics-preserving.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Directory-table listing: the persisted LSH/phash indexes and
        # the multi-batch stream sinks are hive-partitioned trees of
        # 30-100 leaf dirs; above this threshold Spark launches a
        # DISTRIBUTED listing job per read (default 32), which at this
        # dir count costs more than the driver-side walk it replaces —
        # one ~150 ms job per probe/read (r16 guide §6 measurement).
        # Production tables here are manifest-listed (no directory
        # listing at all); for a true many-partition directory table on
        # a cluster, override via extra_conf.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """Rows built on the driver (a statement result, a metadata answer,
    an empty frame of a known schema) as a DataFrame — the one way the
    engine and the lake build one.

    The rows go through Arrow, so the frame is a JVM ``LocalRelation``:
    collecting it, or a limit or projection over it, runs no Spark job.
    ``createDataFrame`` of a Python list or of a ``parallelize`` RDD
    makes a Python RDD instead, and every action on it runs a job that
    needs a Python worker (about 200 ms for one row on a 4-core host,
    against about 20 ms here). ``schema`` (a ``StructType`` or a DDL
    string) is kept as declared, nullability included. Values convert
    as ``createDataFrame`` converts a list: a naive ``datetime`` in a
    timestamp column is Python-local time, a ``Row`` or tuple fills a
    struct."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    rows = list(rows)
    table = (
        LocalDataToArrowConversion.convert(rows, schema, False)
        if rows
        else to_arrow_schema(schema).empty_table()
    )
    return spark.createDataFrame(table, schema)


def is_local(df: DataFrame) -> bool:
    """True when ``df``'s optimized plan is a ``LocalRelation``: its
    rows sit on the driver, so collecting it or a projection of it runs
    no Spark job and it needs no pin to stay stable between actions."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"
