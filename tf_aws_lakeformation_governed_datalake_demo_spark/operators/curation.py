"""Training-data curation operators beyond the dedup/quality basics:
deterministic train/val/test splitting, stratified sampling, benchmark
decontamination, and intra-document repetition scoring — the remaining
stages of a production LLM data pipeline.

All hashing is md5-based so every operator is exactly reproducible in
the DuckDB oracle (xxhash64 has no DuckDB equivalent), and everything
stays JVM-side built-ins: map-only scoring, broadcast semi-joins for
the benchmark set, partial-aggregated shuffles only on tiny keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources import load
from .registry import query


def _md5_bucket(col, n_buckets: int = 100):
    """Deterministic [0, n_buckets) bucket from the first 8 md5 hex chars.

    Content-addressed (not id-addressed): re-ingesting the same document
    under a new id lands in the same split — the property that keeps
    train/test membership stable across pipeline re-runs at 100 TB.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % n_buckets


_DUCK_BUCKET = "CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 100"


@query(
    "pipeline_train_val_split",
    f"""
    WITH b AS (SELECT lang, n_chars, {_DUCK_BUCKET} AS bucket FROM documents)
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY 1
    """,
    "Deterministic 80/10/10 train/val/test split by content hash "
    "(md5-bucket of the text), with per-split document and char counts.",
)
def pipeline_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the bucket is a map-only expression on the scan; only the
    3-row summary shuffles. The same bucket expression used as a filter
    yields the actual split datasets with zero data movement."""
    d = load(spark, sf_dir, "documents")
    bucket = _md5_bucket(F.col("text"))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "sample_stratified_by_lang",
    f"""
    WITH b AS (SELECT doc_id, lang, {_DUCK_BUCKET} AS bucket FROM documents)
    SELECT doc_id, lang FROM b WHERE bucket < 10
    """,
    "Stratified 10% deterministic sample: the content-hash bucket is "
    "uniform within every stratum, so each language is sampled at the "
    "same rate without a per-stratum pass.",
)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: map-only filter — no sampling state, no shuffle, and the
    sample is stable across runs and cluster sizes (unlike df.sample,
    whose output depends on partitioning)."""
    d = load(spark, sf_dir, "documents")
    return d.filter(_md5_bucket(F.col("text")) < 10).select("doc_id", "lang")


N_SHARDS = 16


@query(
    "pipeline_shard_assignment",
    f"""
    WITH s AS (SELECT doc_id, n_chars,
                      CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)
                        % {N_SHARDS} AS shard
               FROM documents)
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY shard ORDER BY shard
    """,
    f"Deterministic output sharding: every document content-hashes to "
    f"one of {N_SHARDS} shards, summarized as per-shard doc and char "
    f"totals (the balance audit). Content-addressed like the split "
    f"bucket, so shard membership is stable across re-runs and cluster "
    f"sizes; balance bounds asserted in tests/test_curation.py.",
)
def pipeline_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-side discipline for a 100 TB corpus: downstream writers
    do ``df.withColumn("shard", ...).repartition("shard").write.
    partitionBy("shard")`` to get statistically-balanced output files
    with no sampling pass or range partitioner (content hashes are
    uniform). This query is that assignment plus its balance audit —
    map-only expression, one tiny {N}-row agg."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            _md5_bucket(F.col("text"), N_SHARDS).alias("shard"), "n_chars"
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("shard")
    )


def _shingle_strings(toks, k: int):
    """k-token shingle strings via slice+concat (md5-able on both engines)."""
    n = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n), lambda i: F.concat_ws(" ", F.slice(toks, i, k))
    )


@query(
    "text_repetition_ratio",
    """
    WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
               FROM documents),
    sh AS (SELECT doc_id,
                  list_transform(range(1, greatest(len(toks)-2, 1)+1),
                    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS s
           FROM t)
    SELECT doc_id,
           CAST(len(s) AS BIGINT) AS n_shingles,
           round(CAST(len(list_distinct(s)) AS DOUBLE) / len(s), 4) AS distinct_ratio
    FROM sh
    """,
    "Intra-document repetition score: distinct / total 3-token shingles "
    "(the Gopher/C4-style repetition filter; low ratio = boilerplate).",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: per-row array math only — embarrassingly parallel, no
    shuffle; the shingle array lives behind a projection so it is built
    once per row (CollapseProject discipline, see dedup.py)."""
    d = load(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id", _shingle_strings(F.split(F.lower("text"), r"\s+"), 3).alias("s")
    )
    return staged.select(
        "doc_id",
        F.size("s").cast("long").alias("n_shingles"),
        F.round(
            F.size(F.array_distinct("s")).cast("double") / F.size("s"), 4
        ).alias("distinct_ratio"),
    )


SEQ_LEN = 256  # tokens per packed training sequence


@query(
    "pipeline_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens + 1) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS token_end
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(token_end - n_tokens - 1 AS BIGINT) AS token_start,
           CAST(floor((token_end - n_tokens - 1) / {SEQ_LEN}.0) AS BIGINT) AS start_seq,
           CAST(floor((token_end - 2) / {SEQ_LEN}.0) AS BIGINT) AS end_seq
    FROM c
    """,
    "GPT-style sequence packing: concatenate documents in doc_id order "
    "with a 1-token separator and chunk into fixed-length training "
    "sequences; per-doc start offset and spanned sequence ids.",
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: a global running sum is NOT a single-partition window here —
    it is the classic two-pass distributed prefix sum. Pass 1 range-
    partitions on doc_id and computes one partial sum per partition
    (collected to the driver: one row per partition, thousands of rows at
    cluster scale). Pass 2 adds each partition's exclusive prefix offset
    (a broadcast map literal) to a per-partition window cumsum, so the
    window's sort runs inside each partition — no global sort, no
    single-reducer stage.

    The localCheckpoint is load-bearing for correctness, not a cache
    nicety: repartitionByRange samples range bounds per execution, so
    without pinning, the totals collected in pass 1 could describe
    different partition boundaries than the ones pass 2 sees.

    end_seq = floor((token_end - 2) / SEQ_LEN): token_end counts the
    separator, so the document's last real token sits at token_end - 2.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    n_parts = max(int(spark.sparkContext.defaultParallelism), 1)
    ranged = (
        d.repartitionByRange(n_parts, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = {
        r["pid"]: r["t"]
        for r in ranged.groupBy("pid")
        .agg(F.sum(F.col("n_tokens") + 1).alias("t"))
        .collect()
    }
    acc = 0
    pairs = []
    for pid in sorted(totals):
        pairs.extend([F.lit(pid), F.lit(acc)])
        acc += int(totals[pid])
    offset = F.create_map(*pairs)[F.col("pid")]
    w = W.partitionBy("pid").orderBy("doc_id")
    token_end = F.sum(F.col("n_tokens") + 1).over(w) + offset
    return ranged.select(
        "doc_id",
        "n_tokens",
        (token_end - F.col("n_tokens") - 1).cast("long").alias("token_start"),
        F.floor((token_end - F.col("n_tokens") - 1) / SEQ_LEN)
        .cast("long")
        .alias("start_seq"),
        F.floor((token_end - 2) / SEQ_LEN).cast("long").alias("end_seq"),
    )


@query(
    "decontaminate_ngram_overlap",
    """
    WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
               FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    range(1, len(toks)-4+1),
                    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                                        toks[i+3], toks[i+4])))) AS shingle
           FROM t WHERE len(toks) >= 5),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
    corpus AS (SELECT * FROM sh WHERE doc_id >= 20),
    tot AS (SELECT doc_id, count(*) AS n FROM corpus GROUP BY doc_id)
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_contaminated,
           round(CAST(count(*) AS DOUBLE) / any_value(tot.n), 4) AS contamination_ratio
    FROM corpus c JOIN bench USING (shingle) JOIN tot ON c.doc_id = tot.doc_id
    GROUP BY c.doc_id
    """,
    "Benchmark decontamination: corpus documents sharing any distinct "
    "5-token shingle with the benchmark set (doc_id < 20 stands in for "
    "an eval suite), with overlap counts and ratio.",
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the benchmark shingle set is tiny and broadcasts, so the
    corpus is one map-side hash-join pass — no corpus shuffle at all; the
    per-doc overlap count partial-aggregates on doc_id.

    Shingles are the 31-bit hashed ids from dedup.shingle_hash_frame —
    ~3x cheaper to build and materialize than concatenated shingle
    strings, and only set membership matters for overlap counts, so the
    string-shingling DuckDB oracle still agrees (absent hash collisions,
    which the oracle diff would surface). Both engines exclude docs
    shorter than 5 tokens — they have no 5-gram to leak.
    """
    from .dedup import shingle_hash_frame

    d = load(spark, sf_dir, "documents")
    # Round-3 used one shared shingle frame behind localCheckpoint; the
    # checkpoint re-shingled the FULL corpus (including the bench slice)
    # on every invocation and blocked the doc_id predicate from reaching
    # the parquet scan. Splitting at the SCAN instead means each branch
    # shingles only its own rows exactly once: the bench branch's
    # doc_id < 20 pushes down to the scan (20 docs — effectively free),
    # and the corpus branch is a single map pass. No materialization
    # boundary is needed because the branches no longer share a parent
    # above the scan. The r3 checkpoint was actually masking a second
    # cost: InferFiltersFromGenerate + predicate pushdown inline the
    # whole shingle pipeline into an inferred size()>0 filter (3x
    # evaluation per row) — session.get_spark excludes that rule.
    # Measured at sf0.1 steady-state: 1.90 s (r3 checkpoint) -> ~1.2 s,
    # now with zero persisted state between invocations.
    bench = (
        shingle_hash_frame(d.filter(F.col("doc_id") < 20))
        .select(F.explode("shingle_hashes").alias("shingle"))
        .distinct()
    )
    # n_total rides through the explode (computed once per doc, carried
    # only on rows surviving the broadcast join), so the corpus is
    # scanned exactly once and only matching shingles ever shuffle.
    # size() + explode() both reference the one shingle_hashes attribute;
    # CollapseProject keeps multi-referenced non-cheap producer
    # expressions behind their projection, so the pipeline runs once per
    # row. Empty shingle sets (docs < 5 tokens) vanish in the explode.
    corpus = shingle_hash_frame(d.filter(F.col("doc_id") >= 20)).select(
        "doc_id",
        F.size("shingle_hashes").cast("long").alias("n_total"),
        F.explode("shingle_hashes").alias("shingle"),
    )
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_contaminated"),
            F.first("n_total").alias("n_total"),
        )
        .select(
            "doc_id",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_total"), 4
            ).alias("contamination_ratio"),
        )
    )


N_FEAT = 1024  # hashed-unigram feature buckets for importance resampling

_DSIR_ORACLE = rf"""
    WITH t AS (SELECT doc_id, lang,
                      unnest(string_split_regex(lower(text), '\s+')) AS token
               FROM documents),
    tb AS (SELECT doc_id, lang,
                  CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT)
                    % {N_FEAT} AS b
           FROM t),
    tgt AS (SELECT b, CAST(count(*) AS DOUBLE) AS ct FROM tb
            WHERE doc_id < 20 GROUP BY b),
    raw AS (SELECT b, CAST(count(*) AS DOUBLE) AS cr FROM tb
            WHERE doc_id >= 20 GROUP BY b),
    nt AS (SELECT sum(ct) AS n FROM tgt),
    nr AS (SELECT sum(cr) AS n FROM raw),
    lr AS (SELECT coalesce(tgt.b, raw.b) AS b,
                  CAST(round(ln((coalesce(ct, 0) + 1) / (nt.n + {N_FEAT}))
                             * 1000000) AS BIGINT)
                - CAST(round(ln((coalesce(cr, 0) + 1) / (nr.n + {N_FEAT}))
                             * 1000000) AS BIGINT) AS lw
           FROM tgt FULL JOIN raw ON tgt.b = raw.b, nt, nr),
    sc AS (SELECT tb.doc_id, any_value(tb.lang) AS lang,
                  CAST(count(*) AS BIGINT) AS n_tokens,
                  CAST(sum(lr.lw) AS BIGINT) AS s
           FROM tb JOIN lr ON tb.b = lr.b
           WHERE tb.doc_id >= 20 GROUP BY tb.doc_id)
    SELECT doc_id, lang, n_tokens, logw, CAST(rn AS BIGINT) AS rn FROM (
      SELECT doc_id, lang, n_tokens,
             round((CAST(s AS DOUBLE) / n_tokens) / 1000000, 4) AS logw,
             row_number() OVER (
               ORDER BY round((CAST(s AS DOUBLE) / n_tokens) / 1000000, 4)
                          DESC, doc_id) AS rn
      FROM sc)
    WHERE rn <= 50
"""


@query(
    "pipeline_importance_resampling",
    _DSIR_ORACLE,
    "DSIR-style data selection (Xie et al., 'Data Selection for "
    "Language Models via Importance Resampling', 2023): hashed-unigram "
    "LMs of a target slice (doc_id < 20) and of the raw corpus, "
    "add-one-smoothed; every raw document scored by its mean "
    "log-importance weight ln(p_target/p_raw); top-50 selected. The "
    "oracle replays feature hashing, both LMs, and the ranking.",
)
def pipeline_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted-corpus selection: upweight raw documents that look like
    the high-quality target distribution. Features are md5-hashed
    unigram buckets (content-addressed — the split/shard discipline), so
    the two LMs are fixed-width tables no matter the vocabulary.

    Scale: the corpus is tokenized + feature-hashed exactly once, into
    a cached (doc, bucket, count) feature table; both LM tables are
    <= N_FEAT-row aggregates over it, and scoring is one broadcast join
    of the log-ratio table against it (count-weighted sums — no per-token
    rows ever shuffle). Per-token log-ratios are
    rounded to 1e-6 and summed as scaled integers (the
    text_unigram_cross_entropy discipline), so the per-doc mean is exact
    and order-free; ranking on the rounded mean with a doc_id tiebreak
    is engine-independent. At 100 TB the top-N window would become a
    quantile threshold (score >= approx-quantile cutoff, map-only) —
    the pipeline_dataset_mixture note's same exact-vs-approximate
    trade."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("token"),
    ).select("doc_id", "lang", _md5_bucket(F.col("token"), N_FEAT).alias("b"))
    # The md5 feature hash dominates the cost, so it must run ONCE: fold
    # the token stream to its (doc, bucket) count grain — the compressed
    # feature table every consumer (both LMs and the scorer) reads —
    # and cache+eager it (the dedup.py signature-table rationale: three
    # lazy consumers would re-tokenize the corpus three times; measured
    # 5.0 s -> 0.6 s at sf0.1). In a real pipeline this IS the persisted
    # per-doc feature table.
    tbc = (
        toks.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .cache()
    )
    tbc.count()
    ct = (
        tbc.filter(F.col("doc_id") < 20)
        .groupBy("b")
        .agg(F.sum("cnt").cast("double").alias("ct"))
    )
    cr = (
        tbc.filter(F.col("doc_id") >= 20)
        .groupBy("b")
        .agg(F.sum("cnt").cast("double").alias("cr"))
    )
    # Totals fold off the N_FEAT-row LM tables, NOT the corpus (sums of
    # integer-valued doubles are exact below 2^53, so the value is
    # identical either way and the oracle mirrors this shape).
    nt = ct.agg(F.sum("ct").alias("nt"))
    nr = cr.agg(F.sum("cr").alias("nr"))
    lw = (
        F.round(
            F.log(
                (F.coalesce(F.col("ct"), F.lit(0.0)) + 1)
                / (F.col("nt") + N_FEAT)
            )
            * 1000000
        ).cast("long")
        - F.round(
            F.log(
                (F.coalesce(F.col("cr"), F.lit(0.0)) + 1)
                / (F.col("nr") + N_FEAT)
            )
            * 1000000
        ).cast("long")
    )
    lr = (
        ct.join(cr, "b", "full_outer")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select("b", lw.alias("lw"))
    )
    sc = (
        tbc.filter(F.col("doc_id") >= 20)
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.col("lw") * F.col("cnt")).cast("long").alias("s"),
        )
    )
    logw = F.round((F.col("s").cast("double") / F.col("n_tokens")) / 1000000, 4)
    # TakeOrderedAndProject top-50 first (per-partition top-k, no global
    # sort), THEN a row_number window over the 50 survivors only — a
    # global rank window here would single-partition the whole corpus.
    top = (
        sc.select("doc_id", "lang", "n_tokens", logw.alias("logw"))
        .orderBy(F.desc("logw"), "doc_id")
        .limit(50)
    )
    win = W.orderBy(F.desc("logw"), "doc_id")
    return top.withColumn("rn", F.row_number().over(win).cast("long"))


_MIXTURE_ORACLE = """
    WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_total
               FROM documents GROUP BY lang),
    t AS (SELECT CAST(sum(n_total) AS BIGINT) AS n_corpus,
                 list_reduce(list_sort(list(sqrt(n_total))),
                             (a, b) -> a + b) AS sum_w FROM c),
    tg AS (SELECT lang, n_total,
                  round(sqrt(n_total) / sum_w, 4) AS target_w,
                  least(n_total,
                        CAST(floor(floor(0.6 * n_corpus)
                                   * sqrt(n_total) / sum_w) AS BIGINT))
                    AS n_take
           FROM c, t),
    r AS (SELECT doc_id, lang, row_number() OVER (
                   PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
          FROM documents),
    s AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS n_sampled,
                 CAST(sum(r.doc_id) AS BIGINT) AS sum_doc_id
          FROM r JOIN tg ON r.lang = tg.lang
          WHERE r.rn <= tg.n_take GROUP BY r.lang)
    SELECT tg.lang, tg.n_total, s.n_sampled, s.sum_doc_id, tg.target_w,
           round(CAST(s.n_sampled AS DOUBLE) / tg.n_total, 4) AS realized_frac
    FROM tg JOIN s ON tg.lang = s.lang
    ORDER BY tg.lang
"""


@query(
    "pipeline_dataset_mixture",
    _MIXTURE_ORACLE,
    "Temperature-weighted dataset mixing (alpha = 0.5): per-language "
    "sampling quotas proportional to count^alpha under a 60%-of-corpus "
    "token budget, filled by deterministic content-hash rank. "
    "sum_doc_id pins exact row-level sample membership, not just "
    "counts; realized_frac shows the low-resource upsampling effect.",
)
def pipeline_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual-LM mixture sampling (the XLM/mT5 alpha-scaling
    scheme): quota_l = min(n_l, B * n_l^0.5 / sum(n^0.5)) with
    B = floor(0.6 * N), filled by the B smallest md5(text) hashes per
    language — content-addressed, so membership is stable across
    re-ingests and replayable by the oracle.

    Scale: quota computation is a tiny per-language agg crossJoined as
    a 1-row broadcast; the exact-quota fill here ranks within language
    (one shuffle; partition-per-language is skew-prone at 100 TB). The
    production-scale variant keeps quotas approximate instead: take
    doc if uniform_hash(text) < quota/n — map-only, no sort — or
    two-pass exact (approx hash-quantile at quota/n, then filter).
    This operator is the exact, hash-verified exemplar of the scheme."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").cast("long").alias("n_total"))
    # sum_w feeds floor() with no rounding guard, so its value must be
    # bit-identical across engines: fold the SORTED weight list
    # sequentially (matches the oracle's list_reduce over list_sort) —
    # an unordered float sum could flip a quota by 1 on a ULP boundary.
    tot = counts.agg(
        F.sum("n_total").alias("n_corpus"),
        F.aggregate(
            F.array_sort(F.collect_list(F.sqrt("n_total"))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sum_w"),
    )
    targets = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_total",
        F.round(F.sqrt("n_total") / F.col("sum_w"), 4).alias("target_w"),
        F.least(
            F.col("n_total"),
            F.floor(
                F.floor(F.lit(0.6) * F.col("n_corpus"))
                * F.sqrt("n_total")
                / F.col("sum_w")
            ).cast("long"),
        ).alias("n_take"),
    )
    win = W.partitionBy("lang").orderBy("h", "doc_id")
    ranked = (
        d.select("doc_id", "lang", F.md5("text").alias("h"))
        .withColumn("rn", F.row_number().over(win))
        .join(F.broadcast(targets), "lang")
        .filter(F.col("rn") <= F.col("n_take"))
    )
    sampled = ranked.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
    )
    return (
        targets.join(sampled, "lang")
        .select(
            "lang",
            "n_total",
            "n_sampled",
            "sum_doc_id",
            "target_w",
            F.round(
                F.col("n_sampled").cast("double") / F.col("n_total"), 4
            ).alias("realized_frac"),
        )
        .orderBy("lang")
    )


@query(
    "decontaminate_semantic",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    bench AS (SELECT * FROM v WHERE vec_id < 20),
    corpus AS (SELECT * FROM v WHERE vec_id >= 20),
    hits AS (
      SELECT corpus.vec_id,
             round(list_cosine_similarity(corpus.e, bench.e), 4) AS cos_sim
      FROM corpus CROSS JOIN bench
    )
    SELECT vec_id,
           CAST(count(*) AS BIGINT) AS n_bench_hits,
           max(cos_sim) AS max_cos
    FROM hits WHERE cos_sim >= 0.3
    GROUP BY vec_id
    """,
    "SEMANTIC benchmark decontamination: corpus vectors whose embedding "
    "is cosine-similar (>= 0.3 after round-4) to ANY benchmark vector "
    "(vec_id < 20 stands in for an eval suite) — the paraphrase-leak "
    "complement of decontaminate_ngram_overlap, which only catches "
    "verbatim 5-gram overlap.",
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the benchmark set is small by definition (eval suites are
    thousands of rows, not billions), so it BROADCASTS and the corpus
    is one map pass — per corpus vector, cosine against every
    broadcast benchmark vector, then a partial-aggregated per-vector
    rollup. No corpus shuffle, no candidate generation needed: the
    benchmark side being tiny makes the exact form cheaper than any
    LSH at every scale. (A billion-row benchmark would flip this to
    the LSH-bucketed join in dedup_embedding_cosine — documented, not
    silently assumed.)"""
    from .similarity import _cos, _with_norm

    v = _with_norm(load(spark, sf_dir, "embeddings"))
    bench = v.filter(F.col("vec_id") < 20).select(
        F.col("embedding").alias("eb"), F.col("norm").alias("nb")
    )
    corpus = v.filter(F.col("vec_id") >= 20).select(
        "vec_id", F.col("embedding").alias("ea"), F.col("norm").alias("na")
    )
    cos = F.round(_cos(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")), 4)
    return (
        corpus.crossJoin(F.broadcast(bench))
        .select("vec_id", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.3)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_bench_hits"),
            F.max("cos_sim").alias("max_cos"),
        )
    )


_DOMAIN_CAP = 15
_DOMAIN_SALTS = 64


def _domain_caps_survivors(d: DataFrame, cap: int = _DOMAIN_CAP) -> DataFrame:
    """Exact two-phase top-``cap`` per domain (the round-11 skew cure).

    At 100 TB one mega-domain can be half the crawl, so a single
    ``row_number() OVER (PARTITION BY source)`` window is a straggler:
    one task sorts half the corpus. Instead:

    phase 1 — salt the domain key with a deterministic 64-way hash of
      ``doc_id`` and rank per (salt, source): the hot domain's rows
      spread over up to 64 parallel tasks, each keeping only its local
      top-``cap``. EXACT because any row in a domain's global
      top-``cap`` is necessarily in the top-``cap`` of its own salt
      bucket (ranks only shrink when rows are removed).
    phase 2 — the final per-domain ``row_number`` runs over at most
      ``cap * 64`` survivors per domain (<= 960 rows for cap=15), so
      the formerly-skewed window is now bounded regardless of corpus
      size or domain skew.

    The salt is content-independent of the ORDER BY key, so the
    survivor set is still a pure function of the corpus (md5(text),
    doc_id) — re-ingest-stable, same property as the train/val split.
    Returns the capped rows (doc_id, lang, source, n_chars) so tests
    can pin both membership and the phase-1 volume bound.
    """
    order = [F.col("h").asc(), F.col("doc_id").asc()]
    pruned = _domain_caps_phase1(d, cap)
    rk = F.row_number().over(W.partitionBy("source").orderBy(*order))
    return (
        pruned.withColumn("rk", rk)
        .filter(F.col("rk") <= cap)
        .select("doc_id", "lang", "source", "n_chars")
    )


def _domain_caps_phase1(d: DataFrame, cap: int = _DOMAIN_CAP) -> DataFrame:
    """Phase 1 of the two-phase cap: salted local top-``cap``.

    Output is bounded at ``cap * _DOMAIN_SALTS`` rows PER DOMAIN by
    construction (the volume pin tests assert this on a crafted
    hot-domain corpus), and is a superset of every domain's global
    top-``cap``.
    """
    order = [F.col("h").asc(), F.col("doc_id").asc()]
    hashed = d.select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("h"),
        F.pmod(F.xxhash64("doc_id"), F.lit(_DOMAIN_SALTS)).alias("salt"),
    )
    local_rk = F.row_number().over(
        W.partitionBy("salt", "source").orderBy(*order)
    )
    return hashed.withColumn("lrk", local_rk).filter(F.col("lrk") <= cap)


@query(
    "pipeline_domain_caps",
    """
    WITH ranked AS (
      SELECT doc_id, lang, source, n_chars,
             row_number() OVER (
               PARTITION BY source ORDER BY md5(text), doc_id
             ) AS rk
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM ranked WHERE rk <= 15
    GROUP BY lang
    """,
    "Per-domain document caps (round-11) — the FineWeb/CommonCrawl "
    "top-heavy-domain downsampling stage: within every source domain "
    "keep at most 15 documents, selected by CONTENT-ADDRESSED rank "
    "(md5(text), doc_id tiebreak) so re-ingesting the corpus keeps the "
    "same survivors. sum_doc_id pins exact membership in the oracle, "
    "not just counts.",
)
def pipeline_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: exact two-phase top-K (see ``_domain_caps_survivors``) —
    the salted phase-1 window bounds every task at the local
    top-15-per-domain regardless of domain skew, and the final
    per-domain window ranks <= 960 rows per domain. No global sort, no
    straggler; the per-lang rollup is a tiny partial-agg shuffle. The
    content-hash rank keeps the survivor set a pure function of the
    corpus — stable across re-crawls, re-shards, and re-runs."""
    d = load(spark, sf_dir, "documents")
    return (
        _domain_caps_survivors(d)
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_TOKEN_MIXTURE_ORACLE = """
    WITH tok AS (
      SELECT doc_id, lang, md5(text) AS h,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  w -> len(w) >= 2)) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
                 CAST(sum(n_tokens) AS BIGINT) AS t_total
          FROM tok GROUP BY lang),
    t AS (SELECT CAST(sum(t_total) AS BIGINT) AS t_corpus,
                 list_reduce(list_sort(list(sqrt(CAST(t_total AS DOUBLE)))),
                             (a, b) -> a + b) AS sum_w FROM c),
    tg AS (SELECT lang, n_total, t_total,
                  round(sqrt(CAST(t_total AS DOUBLE)) / sum_w, 4)
                    AS target_w,
                  least(t_total,
                        CAST(floor(floor(0.6 * t_corpus)
                                   * sqrt(CAST(t_total AS DOUBLE)) / sum_w)
                             AS BIGINT)) AS token_quota
           FROM c, t),
    r AS (SELECT doc_id, lang, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM tok),
    s AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS n_sampled,
                 CAST(sum(r.doc_id) AS BIGINT) AS sum_doc_id,
                 CAST(sum(r.n_tokens) AS BIGINT) AS tokens_sampled
          FROM r JOIN tg ON r.lang = tg.lang
          WHERE r.cum <= tg.token_quota GROUP BY r.lang)
    SELECT tg.lang, tg.n_total, tg.t_total, tg.token_quota,
           CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled,
           CAST(coalesce(s.sum_doc_id, 0) AS BIGINT) AS sum_doc_id,
           CAST(coalesce(s.tokens_sampled, 0) AS BIGINT) AS tokens_sampled,
           tg.target_w,
           round(CAST(coalesce(s.tokens_sampled, 0) AS DOUBLE)
                 / tg.t_total, 4) AS realized_frac
    FROM tg LEFT JOIN s ON tg.lang = s.lang
    ORDER BY tg.lang
"""


def _token_quota_targets(tok: DataFrame) -> DataFrame:
    """Per-language token quotas shared by the exact and approximate
    mixture forms: alpha=0.5 weights over token mass under a
    60%-of-corpus budget; sum_w folds the SORTED weight list so the
    float total is bit-identical across engines (the floor() guard)."""
    counts = tok.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum("n_tokens").cast("long").alias("t_total"),
    )
    tot = counts.agg(
        F.sum("t_total").alias("t_corpus"),
        F.aggregate(
            F.array_sort(F.collect_list(F.sqrt("t_total"))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sum_w"),
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_total",
        "t_total",
        F.round(F.sqrt("t_total") / F.col("sum_w"), 4).alias("target_w"),
        F.least(
            F.col("t_total"),
            F.floor(
                F.floor(F.lit(0.6) * F.col("t_corpus"))
                * F.sqrt("t_total")
                / F.col("sum_w")
            ).cast("long"),
        ).alias("token_quota"),
    )


def token_budget_mixture(tok: DataFrame) -> DataFrame:
    """Token-budget mixture core (round-14; closes r13 What's missing
    #3): quotas planned in TOKENS, the unit real pretraining mixes are
    planned in — quota_l = min(T_l, B * sqrt(T_l) / sum(sqrt(T)))
    with B = floor(0.6 * total tokens), filled per language in
    content-hash order while the RUNNING token total stays within the
    quota (a cumulative-sum prefix, not a row-count rank — a language
    of long documents fills with fewer docs).

    ``tok`` is any (doc_id, lang, h, n_tokens) accounting: the
    oracle-backed registry form uses the SQL-replayable word counter;
    the BPE-composed form feeds text_bpe_encode's counts through the
    same core (tests exact-pin both against a Python reference).

    Scale (round-15 rewrite; clears the r14 weak flag): the prefix
    fill is the two-phase distributed cumsum proven in
    pipeline_pack_sequences — NOT a per-language window, whose sort
    would put a half-the-corpus language in ONE task on a real crawl.
    Phase 1 range-partitions the corpus on the fill key
    (lang, h, doc_id), so a skewed language spreads over many
    partitions while the fill order stays globally sorted, and
    collects one (pid, lang) token total per partition-language pair
    (range partitioning keeps languages contiguous, so this is
    O(partitions + languages) rows — thousands at cluster scale,
    never corpus rows). Phase 2 broadcast-joins each row's exclusive
    per-(pid, lang) base offset back and cumsums inside its own
    partition — every sort is partition-local, no single-reducer
    stage survives for any language. The localCheckpoint pins the
    sampled range bounds so phase 1's totals describe the exact
    partitions phase 2 sees (same load-bearing note as packing).
    Survivor set and oracle are unchanged: cum is identical to the
    old per-language window cumsum, row for row.

    Every downstream read — the quota targets, the phase-1 partials,
    and the fill itself — derives from the ONE checkpointed pass, so
    the token accounting (often an expensive tokenize) is computed
    exactly once per corpus row; checkpointing splits the plan into
    separate jobs, which would otherwise silently defeat Catalyst's
    exchange-reuse dedup of the repeated ``tok`` subplan."""
    spark = tok.sparkSession
    n_parts = max(int(spark.sparkContext.defaultParallelism), 1)
    ranged = (
        tok.repartitionByRange(n_parts, "lang", "h", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    targets = _token_quota_targets(ranged)
    partials = (
        ranged.groupBy("pid", "lang").agg(F.sum("n_tokens").alias("t"))
    ).collect()
    acc: dict = {}
    base_rows = []
    for r in sorted(partials, key=lambda r: (r["lang"], r["pid"])):
        base_rows.append((int(r["pid"]), r["lang"], acc.get(r["lang"], 0)))
        acc[r["lang"]] = acc.get(r["lang"], 0) + int(r["t"])
    # ONE-partition Python RDD: a plain createDataFrame parallelizes
    # over 32 slices and every evaluation pays a 32-python-task ramp for
    # rows that live on the driver (measured ~4 s vs ~0.3 s here). The
    # engine's statement results use session.local_frame, an Arrow-built
    # local relation that runs no job at all.
    offsets = spark.createDataFrame(
        spark.sparkContext.parallelize(base_rows, 1),
        "pid int, lang string, base long",
    )
    win = (
        W.partitionBy("pid", "lang")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    taken = (
        ranged.join(F.broadcast(offsets), ["pid", "lang"])
        .withColumn("cum", F.sum("n_tokens").over(win) + F.col("base"))
        .join(F.broadcast(targets), "lang")
        .filter(F.col("cum") <= F.col("token_quota"))
    )
    sampled = taken.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
        F.sum("n_tokens").cast("long").alias("tokens_sampled"),
    )
    # LEFT join + zero fill: a language whose quota admits no document
    # (all its token mass in one doc larger than the quota) must REPORT
    # n_sampled = 0, never vanish from the mixture plan (round-14
    # review; the pure-Python reference emits an entry per language)
    return (
        targets.join(sampled, "lang", "left")
        .select(
            "lang",
            "n_total",
            "t_total",
            "token_quota",
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
            F.coalesce("sum_doc_id", F.lit(0)).cast("long").alias("sum_doc_id"),
            F.coalesce("tokens_sampled", F.lit(0))
            .cast("long")
            .alias("tokens_sampled"),
            "target_w",
            F.round(
                F.coalesce("tokens_sampled", F.lit(0)).cast("double")
                / F.col("t_total"),
                4,
            ).alias("realized_frac"),
        )
        .orderBy("lang")
    )


@query(
    "pipeline_token_budget_mixture",
    _TOKEN_MIXTURE_ORACLE,
    "Token-budget dataset mixture (round-14): temperature-weighted "
    "(alpha = 0.5) per-language quotas planned in TOKENS under a "
    "60%-of-corpus token budget, filled by content-hash rank while "
    "the running token total stays within quota — the unit real "
    "pretraining mixes are planned in (a long-document language "
    "fills with fewer docs). sum_doc_id pins exact row-level "
    "membership; tokens_sampled/t_total shows the realized "
    "token-level mixture.",
)
def pipeline_token_budget_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The oracle-backed form uses the SQL-replayable word counter
    (words of length >= 2, text_bpe_encode's word definition) as the
    token accounting; pipeline_token_budget_mixture_bpe feeds real
    BPE token counts through the same core."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.md5("text").alias("h"),
        F.size(
            F.filter(
                F.split(F.lower("text"), " "), lambda w: F.length(w) >= 2
            )
        )
        .cast("long")
        .alias("n_tokens"),
    )
    return token_budget_mixture(tok)


@query(
    "pipeline_token_budget_mixture_bpe",
    None,
    "Token-budget mixture planned in REAL tokenizer units: "
    "text_bpe_encode's per-doc BPE token counts feed the same "
    "token_budget_mixture core — the full composition a pretraining "
    "mix actually needs (learn tokenizer -> count tokens -> fill "
    "language quotas by token budget). No SQL oracle (the merge "
    "table is the iterative learner's output); the core's quota and "
    "prefix-fill math is hash-verified via "
    "pipeline_token_budget_mixture, and this composition is "
    "exact-pinned against a pure-Python reference in "
    "tests/test_curation.py.",
)
def pipeline_token_budget_mixture_bpe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Same single-shuffle core; the token accounting swaps in the
    vocabulary-bounded BPE encoder (text_bpe_encode's plan — merge
    fold over the DISTINCT word table, corpus pays one explode + one
    word-keyed join)."""
    from .text import text_bpe_encode

    d = load(spark, sf_dir, "documents")
    enc = text_bpe_encode(spark, sf_dir).select("doc_id", "n_tokens")
    tok = d.select("doc_id", "lang", F.md5("text").alias("h")).join(
        enc, "doc_id"
    )
    return token_budget_mixture(tok)


_TOKEN_MIXTURE_APPROX_ORACLE = """
    WITH tok AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS h32,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  w -> len(w) >= 2)) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
                 CAST(sum(n_tokens) AS BIGINT) AS t_total
          FROM tok GROUP BY lang),
    t AS (SELECT CAST(sum(t_total) AS BIGINT) AS t_corpus,
                 list_reduce(list_sort(list(sqrt(CAST(t_total AS DOUBLE)))),
                             (a, b) -> a + b) AS sum_w FROM c),
    tg AS (SELECT lang, n_total, t_total,
                  least(t_total,
                        CAST(floor(floor(0.6 * t_corpus)
                                   * sqrt(CAST(t_total AS DOUBLE)) / sum_w)
                             AS BIGINT)) AS token_quota
           FROM c, t),
    s AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS n_sampled,
                 CAST(sum(r.doc_id) AS BIGINT) AS sum_doc_id,
                 CAST(sum(r.n_tokens) AS BIGINT) AS tokens_sampled
          FROM tok r JOIN tg ON r.lang = tg.lang
          WHERE CAST(r.h32 AS DOUBLE) / 4294967296.0
                < CAST(tg.token_quota AS DOUBLE) / tg.t_total
          GROUP BY r.lang)
    SELECT tg.lang, tg.n_total, tg.t_total, tg.token_quota,
           CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled,
           CAST(coalesce(s.sum_doc_id, 0) AS BIGINT) AS sum_doc_id,
           CAST(coalesce(s.tokens_sampled, 0) AS BIGINT) AS tokens_sampled,
           round(CAST(coalesce(s.tokens_sampled, 0) AS DOUBLE)
                 / tg.token_quota, 4) AS fill_ratio
    FROM tg LEFT JOIN s ON tg.lang = s.lang
    ORDER BY tg.lang
"""


@query(
    "pipeline_token_budget_mixture_approx",
    _TOKEN_MIXTURE_APPROX_ORACLE,
    "The MAP-ONLY token-budget mixture — the 100 TB scale path the "
    "exact form's docstring promises: take a doc iff "
    "uniform_hash(text) < quota/t_total, so the EXPECTED sampled "
    "token mass equals the quota with no per-language rank window at "
    "all (no sort, no cumsum — the only shuffles are the two tiny "
    "per-language aggs). Deterministic and content-addressed (md5 "
    "threshold), so membership is exactly replayable; fill_ratio "
    "shows how close the realized token mass lands to quota.",
)
def pipeline_token_budget_mixture_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-vs-approximate trade: the exact prefix fill pays a
    range-partition shuffle plus partition-local sorts (skew-proof
    since the round-15 two-phase rewrite, but still a corpus sort
    term); this form decides membership per-row from the hash and the
    broadcast quota — zero sorts of any kind, the cheapest possible
    plan when an expected-value fill is acceptable.
    tests/test_plans.py pins NO window and NO sort in the sampling
    pass."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
        .cast("long")
        .alias("h32"),
        F.size(
            F.filter(
                F.split(F.lower("text"), " "), lambda w: F.length(w) >= 2
            )
        )
        .cast("long")
        .alias("n_tokens"),
    )
    targets = _token_quota_targets(tok).drop("target_w")
    taken = tok.join(F.broadcast(targets), "lang").filter(
        F.col("h32").cast("double") / F.lit(4294967296.0)
        < F.col("token_quota").cast("double") / F.col("t_total")
    )
    sampled = taken.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
        F.sum("n_tokens").cast("long").alias("tokens_sampled"),
    )
    # same LEFT-join zero-fill rule as the exact core
    return (
        targets.join(sampled, "lang", "left")
        .select(
            "lang",
            "n_total",
            "t_total",
            "token_quota",
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
            F.coalesce("sum_doc_id", F.lit(0)).cast("long").alias("sum_doc_id"),
            F.coalesce("tokens_sampled", F.lit(0))
            .cast("long")
            .alias("tokens_sampled"),
            F.round(
                F.coalesce("tokens_sampled", F.lit(0)).cast("double")
                / F.col("token_quota"),
                4,
            ).alias("fill_ratio"),
        )
        .orderBy("lang")
    )


@query(
    "pipeline_softdedup_weights",
    r"""
    WITH corpus AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + 4000000 AS doc_id, lang, text FROM documents
      WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 8000000 AS doc_id, lang,
             concat(' ', upper(substr(text, 1, 1)), substr(text, 2), '  ')
               AS text
      FROM documents WHERE doc_id % 10 = 0),
    n AS (SELECT doc_id, lang,
                 regexp_replace(trim(lower(text)), '\s+', ' ', 'g')
                   AS norm
          FROM corpus),
    g AS (
      SELECT doc_id, lang,
             CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens,
             count(*) OVER (PARTITION BY md5(norm)) AS dup_count
      FROM n)
    SELECT doc_id, lang, CAST(dup_count AS BIGINT) AS dup_count,
           round(1.0 / dup_count, 4) AS weight,
           round(CAST(n_tokens AS DOUBLE) / dup_count, 4)
             AS effective_tokens
    FROM g ORDER BY doc_id
    """,
    "SoftDeDup-style duplication reweighting: instead of DELETING "
    "duplicates, every copy trains with weight 1/dup_count (dup_count "
    "= size of its normalized-content group), so the cluster's total "
    "gradient contribution equals one clean document — the soft "
    "alternative the hard-removal pipelines (dedup_exact*) trade "
    "against. effective_tokens = n_tokens/dup_count is the corpus's "
    "deduplicated token mass, the number a token-budget plan should "
    "count.",
)
def pipeline_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: ONE shuffle — the normalized-content-hash group count
    (a window over the hash key, map-side combinable as a count; same
    key dedup_exact_normalized already shuffles on) joined back by
    riding the same window, so no second pass and no join. Weights
    attach to every row; nothing is dropped, so downstream samplers
    keep full provenance. The normalization (lower, trim, collapse
    whitespace) is dedup_exact_normalized's, making the two operators
    the hard/soft pair of the same content key.

    The testdata corpus carries no duplicate clusters at any sf, so
    the fixture PLANTS them (the dedup_phash_images pattern): an
    exact copy of every 5th document and a case-flipped
    whitespace-padded copy of every 10th — the second one is what
    the NORMALIZED key exists to catch (an exact-text key would
    miss it). Clusters of size 2 and 3 both occur, so the weights
    are binding, not uniformly 1.0."""
    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", "lang", "text")
    corpus = base.unionByName(
        base.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 4000000).alias("doc_id"), "lang", "text"
        )
    ).unionByName(
        base.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 8000000).alias("doc_id"),
            "lang",
            F.concat(
                F.lit(" "),
                F.upper(F.substring("text", 1, 1)),
                F.expr("substring(text, 2)"),
                F.lit("  "),
            ).alias("text"),
        )
    )
    # token counts on the NORMALIZED form: a cluster shares one count
    # (and single-space splitting is engine-exact — regex splits of
    # padded text disagree between engines on empty edge tokens)
    normalized = F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")
    w = W.partitionBy(F.md5(normalized))
    return (
        corpus.select(
            "doc_id",
            "lang",
            F.size(F.split(normalized, " ", -1))
            .cast("long")
            .alias("n_tokens"),
            F.count(F.lit(1)).over(w).cast("long").alias("dup_count"),
        )
        .select(
            "doc_id",
            "lang",
            "dup_count",
            F.round(F.lit(1.0) / F.col("dup_count"), 4).alias("weight"),
            F.round(
                F.col("n_tokens").cast("double") / F.col("dup_count"), 4
            ).alias("effective_tokens"),
        )
        .orderBy("doc_id")
    )


PAD_BUCKET = 64  # pad-to-bucket batching granularity (tokens)


@query(
    "pipeline_padding_efficiency",
    rf"""
    WITH t AS (
      SELECT CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents),
    b AS (SELECT n_tokens,
                 CAST(((n_tokens - 1) // {PAD_BUCKET}) * {PAD_BUCKET}
                      + {PAD_BUCKET} AS BIGINT) AS bucket
          FROM t WHERE n_tokens > 0)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS real_tokens,
           CAST(count(*) * bucket AS BIGINT) AS padded_tokens,
           round(CAST(sum(n_tokens) AS DOUBLE) / (count(*) * bucket), 4)
             AS efficiency
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    "Padding-efficiency histogram for pad-to-bucket batching: docs "
    "bucket to the next multiple of 64 tokens; per bucket, the real "
    "vs padded token mass and their ratio — the fraction of every "
    "training FLOP that lands on real tokens. The alternative to "
    "sequence packing (pipeline_pack_sequences) quantified: where "
    "efficiency is low, packing or tighter buckets pays.",
)
def pipeline_padding_efficiency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scale: map-only length arithmetic + ONE tiny aggregation keyed
    by bucket (O(max_len/64) groups) — the cheapest possible profile
    of a batching strategy; no sort, no window, partial aggregation does
    virtually all the work map-side."""
    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.lower("text"), r"\s+")).cast("long")
    staged = d.select(n_tokens.alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    bucket = (
        ((F.col("n_tokens") - 1) / PAD_BUCKET).cast("long") * PAD_BUCKET
        + PAD_BUCKET
    )
    return (
        staged.select("n_tokens", bucket.cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("real_tokens"),
            (F.count(F.lit(1)) * F.col("bucket"))
            .cast("long")
            .alias("padded_tokens"),
            F.round(
                F.sum("n_tokens").cast("double")
                / (F.count(F.lit(1)) * F.col("bucket")),
                4,
            ).alias("efficiency"),
        )
        .orderBy("bucket")
    )
