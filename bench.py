#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop-format write (full compute,
no driver materialization) — the honest analog of a warehouse query whose
results land in a sink.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tf_aws_lakeformation_governed_datalake_demo_spark.operators import REGISTRY
from tf_aws_lakeformation_governed_datalake_demo_spark.session import get_spark

HEADLINE = [
    "scan_project_filter",
    "agg_tpch_q1",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_orders",
    "agg_count_distinct",
    "join_broadcast_dims",
    "join_fact_revenue",
    "tpch_q3_topk",
    "tpch_q5_region_revenue",
    "window_topk_per_group",
    "events_sessionize",
    "orderby_limit_topk",
    "dedup_exact",
    "dedup_minhash_lsh",
    "knn_cosine_topk",
    "text_quality_score",
    # round 2 additions (kept separate so r01 totals stay comparable on
    # the first 16 entries)
    "pipeline_train_val_split",
    "decontaminate_ngram_overlap",
    # round 3 additions: the rebuilt LSH scale paths
    "ann_lsh_cosine",
    "dedup_embedding_cosine",
    "dedup_ngram_jaccard",
    # round 3 additions: decorrelated-subquery TPC-H shapes
    "tpch_q9_product_profit",
    "tpch_q21_waiting_suppliers",
    # round 5 additions (round-4 VERDICT #6): the governance scan-rewrite
    # path (a regression in per-cell NULL-masking was invisible to the
    # bench), the MERGE upsert, and the multi-probe ANN search path
    "governance_analyst_row_column_security",
    "lake_merge_upsert",
    "ann_multiprobe_topk",
    # round 6 additions (round-5 VERDICT #5): the r5 operators that had
    # no perf bar — the SCD2 apply (now partition-bounded), the simhash
    # banding pipeline, the durable streaming sink end to end — plus the
    # new media-encoder similarity composition
    "lake_scd2_apply",
    "dedup_simhash",
    "stream_hourly_counts_durable",
    "multimodal_embed_knn",
    # round 6 late additions: the PQ compressed-ANN read path (codebook
    # + encode + ADC shortlist + exact re-rank, end to end), the
    # temperature-weighted mixture sampler, and the Z-order layout
    # rewrite + 2-D-predicate scan
    "pq_adc_rerank_topk",
    "pipeline_dataset_mixture",
    "lake_zorder_scan",
    "ann_ivfadc_topk",
    # round 6 second-half additions: lake maintenance (CDC diff,
    # incremental MV refresh), cluster-scoped semantic dedup, DSIR
    # importance resampling, the int8 scalar-quantization ANN path, and
    # the streaming trending rank
    "lake_table_diff",
    "lake_incremental_agg_refresh",
    "dedup_semantic_centroids",
    "pipeline_importance_resampling",
    "ann_sq_rerank_topk",
    "stream_topk_trending",
    "privacy_k_anonymity",
    "lake_scd2_as_of",
    "stream_cdc_upsert",
    "ann_filtered_topk",
    "join_bloom_pruned_revenue",
    "stream_enriched_region_counts",
    "graph_triangle_count",
    # round 7 additions: the durable-catalog reload path (bootstrap +
    # save + load + governed scan — pure metadata cost, like the
    # governance entry), SCD2 retention end to end (seed + two applies
    # + expire + read-back), the durable append-mode trending pipeline
    # (checkpointed parquet sink + read-side rank), and the
    # k-means-trained-PQ recall instrument (train + encode + ADC +
    # re-rank + ground truth)
    "governance_catalog_reload",
    "lake_vacuum_expire",
    "stream_topk_trending_durable",
    "pq_trained_recall",
    # round 7 second-half additions: point-in-time stream enrichment
    # (scd2 dimension build + validity-range broadcast join + windowed
    # agg), incremental batch-vs-index near-dup detection, and the
    # session-path Markov transition matrix
    "stream_scd2_enrichment",
    "dedup_incremental_minhash",
    "events_path_transitions",
    # round 7 final additions: the IVF index as literal hive partitions
    # (probing = partition pruning), and DELETE FROM / GDPR erasure with
    # emptied-partition removal
    "ann_ivf_partitioned_scan",
    "lake_delete_user_rows",
    # round 8 additions: manifest-pointer commits (seed publish + merge
    # commit + current AND historical snapshot reads), and the persisted
    # bucket-sharded MinHash index probed from disk
    "lake_time_travel",
    "dedup_minhash_index_probe",
    # round 8 second-half additions: the manifest-scoped change feed
    # (publish + one-partition merge + O(delta) v1->v2 diff), the MV
    # refreshed FROM that feed (the deletion-surviving refresh shape),
    # and manifest-stats file skipping (range-clustered publish + band
    # aggregate scanning 2 of 8 files)
    "lake_table_changes",
    "lake_cdf_agg_refresh",
    "lake_manifest_skip_scan",
    # round 8 third-wave additions: transactional streaming append (4
    # micro-batch manifest commits + a replayed-batch no-op + the
    # read-back aggregate through the committed snapshot) and the
    # bucketed co-located fact-fact join (two clustering writes + the
    # exchange-free merge join)
    "stream_lake_append_txn",
    "join_bucketed_colocated",
    # ... and the streaming arrival form of the persisted-index dedup
    # (3 micro-batches of probe + verify + append)
    "stream_minhash_dedup",
    # round 8 fourth-wave additions: per-file bloom bitmaps recorded at
    # manifest commit pruning a point lookup on a hash-clustered layout,
    # and snapshot RESTORE (seed + bad merge + metadata rollback + both
    # snapshot reads)
    "lake_bloom_point_lookup",
    "lake_rollback_restore",
    # round 8 final additions: Structured Streaming FROM the lake table
    # (publish + 2 appends + the Python-data-source stream aggregate),
    # and the governed stream (analyst subscribes to the manifest sales
    # table through the data-cells rewrite)
    "stream_from_lake_source",
    "governance_streamed_counts",
    # round 8 fifth-wave additions: merge-on-read deletes (tombstone
    # commits + scoped append + masked read; then the CDF delta feed +
    # file-granular purge), write-audit-publish (bad candidate audited
    # and aborted, good candidate promoted), and the LLM-pipeline trio
    # (corpus-wide keep-first segment dedup, BM25 retrieval, two-pass
    # exact heavy hitters)
    "lake_delete_mor",
    "lake_mor_purge_cdf",
    "lake_write_audit_publish",
    "dedup_paragraphs",
    "text_bm25_topk",
    "events_heavy_hitters",
    # ... and the write-side data-quality gate (constraint add + refused
    # violating append + accepted clean batch)
    "lake_check_constraints",
    # ... and OPTIMIZE-with-clustering (shuffled publish + full-scan
    # assert + clustered rewrite + pruned band read)
    "lake_optimize_cluster",
    # ... and incremental IVF maintenance (seed index publish + frozen-
    # quantizer batch assignment + transactional append + pruned probe)
    "ann_ivf_index_append",
    # round 8 sixth-wave additions: the suffix-array-style exact
    # substring dedup (global keep-first 8-token spans + coverage
    # removal + reassembly) and partition-spec evolution (seed publish
    # + metadata evolution + new-spec append + the mixed-layout union
    # read)
    "dedup_exact_substrings",
    "lake_partition_evolution",
    # ... plus the BPE counting core (one word-freq shuffle +
    # vocabulary-bounded pair agg) and metadata-only COUNT (publish +
    # append + the zero-scan per-partition count)
    "text_bpe_pair_counts",
    "lake_count_pushdown",
    # ... and RENAME-without-rewrite (seed publish + metadata rename +
    # new-name append + the mapping-translated read), and contrastive
    # hard-negative mining (8 broadcast anchors, anti-label ranking)
    "lake_rename_column",
    "ann_hard_negatives",
    # ... and snapshot tags pinning retention (seed + tag + 2 merges +
    # vacuum + the tag-resolved and current reads), and the Matryoshka
    # truncation-recall instrument (4 dims x 5 anchors x corpus scan)
    "lake_snapshot_tags",
    "ann_matryoshka_recall",
    # round 9 additions: branch commits + fast-forward publication
    # (seed publish + 2 branch appends + the one-pointer publish +
    # before/after profile reads)
    "lake_branch_merge",
    # ... the interval-overlap join (sessionize + explode-to-buckets,
    # no join node), semantic benchmark decontamination (broadcast
    # cross + per-vector rollup), RFM quartile segmentation, and the
    # per-doc word-entropy filter
    "join_interval_overlap",
    "decontaminate_semantic",
    "events_rfm_segments",
    "text_doc_entropy",
    # ... and binary quantization (sign-bit packing + xor/popcount
    # Hamming shortlist + exact re-rank), the cheapest compressed rung
    "ann_bq_hamming_rerank",
    # ... and staged streaming ingestion (3 micro-batch commits on a
    # branch + the one-pointer fast-forward publish + both reads)
    "stream_branch_ingest",
    # ... and the context-aware LM quality gate (bigram counts from the
    # 80% train slice + held-out scoring), plus the MLlib classifier
    # rung (hashed-TF features + LBFGS train + broadcast inference)
    "text_bigram_cross_entropy",
    "pipeline_quality_classifier",
    # ... and the DP release rung (distinct-user counts + seeded
    # inverse-CDF Laplace noise), and the experimentation readout
    # (per-user conversion + pooled two-proportion z-test)
    "privacy_dp_event_counts",
    "events_ab_test",
    # ... and targeted bin-packing OPTIMIZE (fragmented publish + 4
    # appends + the small-tail-only rewrite + both snapshot reads)
    "lake_optimize_binpack",
    # ... and the robust MAD anomaly scorer + the one-pass ANALYZE
    # profile
    "events_anomaly_mad",
    "pipeline_data_profile",
    # ... and the engine-level MATERIALIZED VIEW (create + MoR delete +
    # update merge + the one incremental refresh + governed read)
    "governance_materialized_view",
    # round 10 additions: the governed SQL statement surface (each is
    # seed publish + the statement through parse/gate/audit + the
    # final-state read-back), the derived-AVG MV, the multi-table
    # staged publish (2 branches + 2 appends + 2 fast-forwards), and
    # per-micro-batch streaming MV maintenance (3 commits, 3
    # incremental refreshes, a replay no-op)
    "sql_merge_upsert",
    "sql_update_rows",
    "sql_delete_rows",
    "sql_optimize_vacuum",
    "sql_refresh_mv",
    "sql_ctas_unload",
    "governance_materialized_view_avg",
    "governance_materialized_view_filtered",
    "governance_materialized_view_join",
    "governance_materialized_view_distinct",
    "lake_multi_table_publish",
    "stream_mv_refresh",
    # round 11 additions: the last SQL verbs (view DDL on the sales
    # fixture; INSERT INTO = 2 transactional appends; PREPARE/EXECUTE =
    # parse + fill + one governed agg; the 3-statement script = MV
    # create + merge + refresh), and the transparent MV rewrite (create
    # + merge + refresh + the state-served aggregate)
    "sql_view_ddl",
    "sql_insert_append",
    "sql_prepared_exec",
    "sql_script_exec",
    "governance_mv_rewrite",
    # ... and inline FOR VERSION AS OF time travel (seed + append + the
    # pinned v1 aggregate joined with current)
    "sql_time_travel",
    # ... and the two round-11 curation/text additions: per-domain caps
    # (one domain-key window + rollup) and the Gopher rule table (one
    # corpus bigram shuffle + per-doc window + rollup)
    "pipeline_domain_caps",
    "text_gopher_quality_rules",
    # round 12 additions: line-level Gopher rules (map-only multi-line
    # synthesis + one (doc, line) partial agg + doc rollup) and the
    # filtered-MV rewrite under predicate implication (create + the
    # residual-filtered state read)
    "text_gopher_line_rules",
    "governance_mv_rewrite_filtered",
    # ... the lake transaction log (2 seed publishes + two staged
    # cross-table transactions, each one _txlog record rename + branch
    # propagation, + the txn-read join), C4 page cleaning (map-only
    # synthesis + one doc rollup), and the 4-stage cleaning funnel
    "lake_txlog_commit",
    "text_c4_clean",
    "pipeline_web_cleaning_stack",
    # ... and the streaming x txlog composition (3 micro-batches, each
    # one cross-table transaction, + a replayed no-op cut + txn reads)
    "stream_txlog_ingest",
    # round 12 second-half additions: ANALYZE TABLE (seed publish + the
    # one-pass column-stats aggregate + stats readback), zero-copy
    # CLONE (seed publish + hardlink clone + divergence DELETE + both
    # final-state reads), and perplexity bucketing (corpus bigram LM +
    # per-doc CE + per-lang equal-width histogram, no windows)
    "sql_analyze_stats",
    "lake_clone_zero_copy",
    "pipeline_perplexity_buckets",
    # ... and INSERT OVERWRITE (seed publish + self-referential batch
    # read + one-partition atomic replace + final agg)
    "sql_insert_overwrite",
    # ... the KN-smoothed LM gate (one bigram explode + vocabulary-
    # bounded model tables + broadcast score joins) and the
    # l-diversity release audit (one (QI, sensitive) shuffle + rollup)
    "text_kneser_ney_cross_entropy",
    "privacy_l_diversity",
    # ... and the streaming partition-reprocess sink (seed publish + 3
    # per-language overwrite epochs + the rollback-replay no-op probe)
    "stream_partition_overwrite",
    # round 13 additions: the plain-DDL + permission SQL modality
    # (CREATE DATABASE + column-list CREATE EXTERNAL TABLE + INSERT +
    # final agg; the grant/deny/revoke loop), metadata-count serving
    # (bare + per-partition — both must stay O(metadata) flat),
    # the IN-list filtered-MV rewrite, the t-closeness audit, exact
    # sliding-window distinct users, and the one-pass PCA fit+project
    # (events_heavy_hitters, re-planned this round, is already a
    # headline entry above)
    "sql_create_table_ddl",
    "sql_grant_revoke",
    "sql_count_metadata",
    "sql_count_partitions_metadata",
    "governance_mv_rewrite_inlist",
    "privacy_t_closeness",
    "events_sliding_distinct_users",
    "embeddings_pca_project",
    "text_bpe_encode",
    # round 14 additions: safe type widening (metadata commit +
    # promoted reads + beyond-domain insert), ADD FILES import
    # (O(new files) bridge from bulk landing into the manifest
    # layout), and the token-budget mixture (quota fill by cumulative
    # token mass)
    "sql_alter_column_widen",
    "sql_add_files",
    "pipeline_token_budget_mixture",
    "pipeline_token_budget_mixture_approx",
    "sql_truncate_table",
    "sql_msck_repair",
    "sql_describe_files",
    # late round-13 addition that only had an isolated bar until now
    "stream_cdc_with_deletes",
    "sql_add_constraint",
    "pipeline_chunk_documents",
    # late round-14 addition that landed after run 5's cutoff
    "pipeline_boilerplate_chunks",
    # round 15 additions: age-based snapshot retention end to end,
    # the perceptual-hash image near-dup (encoder + banding +
    # hamming verify over the planted corpus), and the skew-proof
    # exact mixture is already above (same name, new two-phase plan)
    "sql_vacuum_age",
    "dedup_phash_images",
    "dedup_phash_index_probe",
    "stream_phash_dedup",
    "pipeline_softdedup_weights",
    "pipeline_padding_efficiency",
    "text_vocab_coverage",
    # round 16 additions: the exact->phash collapse composition, the
    # partition-retirement verb end to end; stream_phash_dedup and
    # text_vocab_coverage above now measure their round-16 re-plans
    # (deterministic cap / TakeOrdered)
    "dedup_phash_collapsed",
    "sql_drop_partition",
]

# Names that have appeared in a driver-parsed bench line in a previous
# round (the round-16 printed line plus stream_txlog_ingest, whose round-15
# number was lost when the two round-16 HEADLINE additions pushed it out of
# the printed line's budget — the round-16 gate item). The driver diffs its
# per-round lines query-by-query, so evicting any of these from the printed
# line destroys its round-over-round tracking. The reporting loop below
# places these FIRST and asserts they all fit; a future HEADLINE addition
# can therefore never silently evict one (it would either land in the
# remaining budget or stay BENCH_FULL-only until promoted here).
PRIOR_REPORTED = [
    "scan_project_filter",
    "agg_tpch_q1",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_orders",
    "agg_count_distinct",
    "join_broadcast_dims",
    "join_fact_revenue",
    "tpch_q3_topk",
    "tpch_q5_region_revenue",
    "window_topk_per_group",
    "events_sessionize",
    "orderby_limit_topk",
    "dedup_exact",
    "dedup_minhash_lsh",
    "knn_cosine_topk",
    "text_quality_score",
    "pipeline_train_val_split",
    "decontaminate_ngram_overlap",
    "ann_lsh_cosine",
    "stream_cdc_upsert",
    "sql_analyze_stats",
    "lake_clone_zero_copy",
    "pipeline_perplexity_buckets",
    "sql_insert_overwrite",
    "text_kneser_ney_cross_entropy",
    "privacy_l_diversity",
    "stream_partition_overwrite",
    "sql_create_table_ddl",
    "sql_grant_revoke",
    "sql_count_metadata",
    "sql_count_partitions_metadata",
    "governance_mv_rewrite_inlist",
    "privacy_t_closeness",
    "events_sliding_distinct_users",
    "embeddings_pca_project",
    "text_bpe_encode",
    "sql_alter_column_widen",
    "sql_add_files",
    "pipeline_token_budget_mixture",
    "pipeline_token_budget_mixture_approx",
    "sql_truncate_table",
    "sql_msck_repair",
    "sql_describe_files",
    "stream_cdc_with_deletes",
    "sql_add_constraint",
    "pipeline_chunk_documents",
    "pipeline_boilerplate_chunks",
    "sql_vacuum_age",
    "dedup_phash_images",
    "dedup_phash_index_probe",
    "stream_phash_dedup",
    "pipeline_softdedup_weights",
    "pipeline_padding_efficiency",
    "text_vocab_coverage",
    "dedup_phash_collapsed",
    "sql_drop_partition",
    "stream_txlog_ingest",
]

# ann_lsh_cosine first in the measured sequence (round-7 VERDICT #3):
# its last two driver numbers were taken late in the run under
# documented host load (1.63x its r5 driver value, vs 1.18x isolated);
# running it before an hour of accumulated JVM pressure gives it one
# clean same-harness number. HEADLINE order above is the reporting
# order; this only changes EXECUTION order.
_RUN_ORDER = ["ann_lsh_cosine"] + [n for n in HEADLINE if n != "ann_lsh_cosine"]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")

    # JVM warmup outside the timed region.
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Each query runs twice: the first run pays one-time whole-stage
    # codegen compilation (seconds for the large HOF expressions, paid
    # once per query shape per JVM — amortized to nothing on real
    # minutes-long scans); the second run is the steady-state number.
    # Per-query isolation (round-3 lesson: cumulative cache() /
    # localCheckpoint residue and JVM pressure from earlier queries
    # inflated later per-query numbers 1.2-1.8x, burying real
    # regressions): drop every cached plan and let the ContextCleaner
    # reclaim checkpoint blocks before each query is timed. gc.collect()
    # releases the Python-side DataFrame refs that pin JVM RDDs.
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in _RUN_ORDER:
        spec = REGISTRY[name]
        spark.catalog.clearCache()
        gc.collect()
        t0 = time.perf_counter()
        spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold[name] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)

    # report in HEADLINE order regardless of execution order
    timings = {n: timings[n] for n in HEADLINE}
    cold = {n: cold[n] for n in HEADLINE}
    total = round(sum(timings.values()), 3)
    common18 = round(sum(timings[n] for n in HEADLINE[:18]), 3)

    # Full per-query detail always lands in BENCH_FULL.json next to this
    # script (the driver runs bench.py inside the repo, so the file is
    # inspectable and committable afterwards).
    full = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "common18_sec": common18,
        "queries": timings,
        "cold": cold,
        "cold_run_sec": round(sum(cold.values()), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"),
        "w",
    ) as fh:
        json.dump(full, fh, indent=1)

    print(build_printed_line(timings, total, common18, full["sf"]))


#: The driver's capture is exactly the last 2000 chars (measured: every
#: committed BENCH_r*.json "tail" is len 2000) and the printed line is the
#: last thing printed, so line + trailing newline <= 2000 is fully
#: captured; 1950 leaves a 49-char safety margin.
PRINT_BUDGET = 1950


def build_printed_line(
    timings: dict[str, float],
    total: float,
    common18: float,
    sf,
    budget: int = PRINT_BUDGET,
) -> str:
    """The one-line JSON result bench.py prints last.

    The driver captures only the LAST ~2000 characters of stdout and
    json-parses the final line, so the line reports a priority-truncated
    subset of the queries that always fits ``budget``. Every name the
    driver has ALREADY seen in an earlier line (PRIOR_REPORTED) is placed
    first and must fit — a name that no longer fits raises instead of
    silently dropping that query's run-over-run number. To make them
    fit, per-query seconds are rounded to 2 decimals (~10 ms, far below
    host jitter; BENCH_FULL.json keeps 3 decimals). Remaining budget goes
    to never-reported names, newest first. ``total``/``common18`` stay
    totals over ALL measured queries."""
    tail_priority = [n for n in reversed(HEADLINE) if n not in PRIOR_REPORTED]
    priority = PRIOR_REPORTED + tail_priority

    def _line(q: dict[str, float]) -> str:
        return json.dumps(
            {
                "metric": "headline_queries_total_wall_clock",
                "value": total,
                "unit": "sec",
                "common18_sec": common18,
                "queries": q,
                "nq_total": len(timings),
                "full": "BENCH_FULL.json",
                "sf": sf,
            },
            separators=(",", ":"),
        )

    reported: dict[str, float] = {}
    for name in priority:
        candidate = dict(reported)
        candidate[name] = round(timings[name], 2)
        if len(_line(candidate)) > budget:
            break
        reported = candidate
    missing = [n for n in PRIOR_REPORTED if n not in reported]
    if missing:
        raise RuntimeError(f"printed line evicted previously-reported: {missing}")
    # keep HEADLINE order within the reported subset
    line = _line({n: reported[n] for n in HEADLINE if n in reported})
    # hard stop, not just the loop above: an edit to the line's fixed
    # fields must not silently break the driver's ~2 KB tail parse
    if len(line) > budget:
        raise RuntimeError(f"printed line is {len(line)} chars > {budget}")
    return line


if __name__ == "__main__":
    main()
