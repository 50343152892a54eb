"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is forced end-to-end with the noop sink (full column
materialization, no driver collect overhead). A warmup query first
absorbs JVM/codegen startup so per-query numbers reflect plan execution.

Since round 3 each query runs TWICE and the minimum is reported:
single-pass numbers on this box swing up to 2× run-to-run (first-touch
codegen compile, GC pauses, noisy neighbors — multimodal_features
measured anywhere from 0.7s to 6.6s for the identical plan), and the
min-of-2 is the steady-state cost a long-running cluster actually pays.
Round 1/2 artifacts were single-pass; cross-round comparisons should
expect r3+ numbers to sit at the low end of earlier runs' noise band.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Tiered run order (VERDICT r7 #8): the registry outgrew the 420 s
# min-of-2 budget (280 admitted queries, ~220 s throttled), so which
# queries degrade to single-pass was becoming a fixed property of list
# position — the tail NEVER got a steady-state number. Two tiers now:
#   headline — BENCH_QUERIES[:20] (the cross-round summary set) always
#     runs first and always gets min-of-2, budget-exempt;
#   deep — everything else, rotated by a per-round offset (the count of
#     existing BENCH_r*.json artifacts — deterministic, advances once
#     per driver round) so min-of-2 coverage CYCLES through the deep
#     tier across rounds instead of starving the same suffix.
# BENCH_full.json records which queries got min-of-2 vs single-pass.
N_HEADLINE = 20

BENCH_QUERIES = [
    "p1_schema_apply",
    "p4_hash_key",
    "p5_filter_step",
    "j1_join_agg",
    "a1_pricing_summary",
    "a2_pivot",
    "q2_sql_chain",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q10",
    "tpch_q14",
    "tpch_q18",
    "topk_customers",
    "dq_constraints",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_topk",
    "text_metrics",
    "doc_fingerprint",
    "multimodal_features",
    "f_json_extract",
    "sessionize",
    "stream_window",
    # round-2 additions (widened set; compare per-query across rounds,
    # not totals)
    "ann_ivf_topk",
    "rep_quality_filter",
    "corpus_mix",
    "redact_pii",
    "doc_chunks",
    "pack_sequences",
    "asof_join",
    "range_join",
    "time_rollup",
    "token_freq_score",
    "decontaminate",
    "dup_spans",
    "hll_distinct",
    "quantize_embeddings",
    "kmv_set_ops",
    "rollup_refresh",
    "kafka_roundtrip",
    "bm25_search",
    "table_profile",
    "value_histogram",
    "window_analytics",
    "grouped_percentiles",
    "funnel",
    "pagerank",
    # round-3 additions
    "compact_parquet",
    "bloom_prune_join",
    "stratified_sample",
    "bucketed_join",
    "tpch_q8",
    "tpch_q13",
    "tpch_q19",
    "tpch_q22",
    "rolling_features",
    "skew_keys",
    "stream_enrich",
    "cdc_apply",
    "cube_aggregate",
    "table_diff",
    "hybrid_search",
    "equidepth_bins",
    "event_bigrams",
    "tpch_q2",
    "tpch_q4",
    "tpch_q9",
    "tpch_q11",
    "tpch_q12",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q20",
    "tpch_q21",
    "salted_join_agg",
    "winsorized_stats",
    "triangle_count",
    "inverted_index",
    "fuzzy_link",
    "cohort_retention",
    "time_weighted_avg",
    "gap_fill",
    "hll_sliding",
    "quota_sample",
    "mad_outliers",
    "cms_topk",
    "corr_moments",
    "rank_family",
    "string_functions",
    "vocab_coverage",
    "incremental_mv",
    # round-3 second wave
    "activity_streaks",
    "skyline_pareto",
    "unpivot_melt",
    "exists_subquery",
    "label_encode",
    "spatial_join",
    "bfs_khop",
    "event_pattern",
    "basket_rules",
    "ri_audit",
    "date_dim",
    "running_distinct",
    "interval_union",
    "json_badrecords",
    "ohlc_resample",
    "union_align",
    "conversion_lag",
    "attribution",
    "group_split",
    "target_encode",
    "period_over_period",
    "concurrency_peak",
    "not_in_nulls",
    "intersect_all",
    "python_udtf",
    "variant_json",
    "embedding_norms",
    "freshness_audit",
    "dedup_recent",
    "stream_upsert",
    "corpus_pipeline",
    "weighted_percentile",
    "grouped_mode",
    "explode_outer",
    "percent_of_total",
    "series_corr",
    "group_by_all",
    "nulls_ordering",
    "try_arithmetic",
    "bit_aggregates",
    "array_setops",
    "date_trunc_parity",
    "rfm_segments",
    "abc_classification",
    "top_paths",
    "collect_set",
    "url_parse",
    "hash_functions",
    "gap_histogram",
    "dim_stats",
    "max_drawdown",
    "sliding_distinct_exact",
    "percentile_trend",
    "dow_seasonality",
    "new_vs_returning",
    "first_last_touch",
    "fulfillment_lag",
    "daily_backlog",
    "concentration_hhi",
    "char_terms",
    "spike_days",
    "pagination",
    "intraday_profile",
    "dup_rate_by_source",
    "lang_mix",
    "churn_flags",
    "cross_source_dups",
    "length_bands",
    "novelty_score",
    "rank_sum_u",
    "ks_test",
    "gini_spend",
    "return_rates",
    "discount_bands",
    "weekday_hour_heatmap",
    "order_size_dist",
    "brand_price_index",
    "repeat_rate",
    "purchase_intervals",
    # round-4 additions
    "image_decode",
    "audio_decode",
    "stream_dedup_wm",
    "glossary_nl2sql",
    "keyword_extract",
    "dedup_survivors",
    "split_leakage",
    "negative_pairs",
    "stream_session_native",
    "ann_recall",
    "retrieval_mrr",
    # round-4 second wave
    "semdedup",
    "segment_dedup",
    "bpe_train",
    "bpe_tokenize",
    "dsir_scores",
    "unimax_mix",
    "freq_spectrum",
    "python_datasource",
    "k_anonymity",
    "maxsim_retrieval",
    "join_cardinality",
    "recursive_reachability",
    "sparse_cosine",
    "ewma_monitor",
    "model_inputs",
    "langid_confusion",
    "rendezvous_shards",
    "lsh_eval",
    "seasonal_decompose",
    "incremental_dedup",
    "dataset_card",
    "dup_cluster_sizes",
    "semdedup_eval",
    # round-5 additions
    "video_decode",
    "cusum_monitor",
    "t_closeness",
    "ngram_diversity",
    "cdc_chunks",
    "ndcg_eval",
    "zipf_fit",
    "tokenizer_fertility",
    "kcore",
    "woe_encode",
    "containment",
    "decontaminate_semantic",
    # round-5 second half (streaming gates stay excluded by precedent)
    "label_propagation",
    "wordpiece_train",
    "hilbert_layout",
    "benford_audit",
    "mmr_rerank",
    "unigram_surprisal",
    "lexicon_screen",
    "boilerplate_df",
    "filter_cascade",
    "dp_counts",
    "curriculum_order",
    "lateral_topk",
    "winnowing",
    "theil_sen",
    "kcenter_coreset",
    "observe_metrics",
    "binaryfile_source",
    "chi2_drift",
    "temperature_mix",
    "stream_anti_join",
    "mann_kendall",
    "pettitt",
    "s7_xml_roundtrip",
    "s8_text_source",
    "arrow_udf",
    # admitted r6 after degree-orientation took it 14s → 5.7s at sf0.1
    # (VERDICT r5 #8):
    "k_truss",
    # round-6 additions (same-commit with their gates — VERDICT r5 #10)
    "url_dedup",
    "silhouette",
    "bigram_lm",
    "anf_reach",
    "modularity",
    "trimmed_mean",
    "calibration_bins",
    "bin_pack",
    "image_neardup",
    "stream_cms_merge",
    "perceptron_distill",
    "label_noise",
    "audio_neardup",
    "embedding_pca",
    "video_neardup",
    "image_resize",
    "fim_transform",
    "source_marginals",
    "llm_pipeline",
    "ann_pipeline",
    "screen_pipeline",
    "join_refresh",
    "rank_tau",
    "sql_udf",
    "neyman_alloc",
    "threshold_sweep",
    "zonemap_audit",
    "dp_median",
    "rollup_retract",
    "heldout_bits",
    "pq_encode",
    "pq_recall",
    "ppr_seeded",
    "conformal",
    # dbscan admitted in r8 (VERDICT r7 #3): the per-block union-find
    # rewrite + hoisted pair norms took it 14.5s → 3.3s steady at sf0.1
    "dbscan",
    # round-8 additions (stream_dlq stays out: streaming side-effect
    # gate, per precedent)
    "soft_dedup",
    "matryoshka_recall",
    "audio_vad",
    "edit_dedup",
    "rejection_match",
    "hits_scores",
    "bootstrap_ci",
    "query_expansion",
    "span_corrupt",
    "media_quarantine",
    "ivf_drift",
    "audio_resample",
    "walkforward_split",
    "lsh_multiprobe",
    "doremi_mix",
    "nsw_search",
    "aspect_bucket",
    "shuffle_audit",
    "bq_rerank",
    "hard_negatives",
    "mix_pipeline",
    "sim_pack",
    # round-9 additions (s8_dynamic_path/w2_table_write stay out:
    # tiny-nation roundtrip gates, all setup cost, nothing to measure)
    "a3_dup_count",
    "bpe_pack",
    "contamination_report",
    "audio_clipping",
    "pack_efficiency",
    "cluster_split",
    "chat_lint",
    "chat_truncate",
    "chat_loss_mask",
    "preference_pairs",
    "group_advantage",
    "niah_synth",
    "chat_pack",
    "pack_mask_audit",
    "terminal_punct",
    "recency_sample",
    # round-10 entries
    "suffix_spans",
    "token_decon",
    "jpeg_decode",
    "watermark_detect",
    "cdc_dedup",
    "prefix_cache",
    "bradley_terry",
    "rand_response",
    "assortativity",
    "heaps_law",
    "rq_encode",
    "quantile_norm",
    "span_scrub",
    "halving",
    # viterbi_segment stays out: 8s of pure recursion-step overhead on
    # 31 rows (recursive_reachability already times Spark recursion);
    # ivfpq_serve stays out: training-tier — r9 cut it ~25s -> ~8-12s
    # at gate scale (F.lit array literals, with_stats=False train,
    # n_iters=1) but it is still Lloyd-control dominated (already
    # timed via ivf_train) + the exact-baseline eval; the serving-path
    # pieces it composes (ann_ivf_topk, pq_encode, pq_recall) are benched
    # admitted in the r10 optimization round after their driver fast
    # paths (k_truss/dbscan precedent — optimize first, then bench):
    # ivf_train 16-21s -> ~0.5-0.7s steady (numpy Lloyd replay below
    # its replay.CUTOFFS entry), set_sim_join 31-42s -> ~4s steady
    # (bitmask pair replay below its replay.CUTOFFS entry; its
    # 7.1M-row sf0.1 result materializes through the noop sink)
    "ivf_train",
    "set_sim_join",
]


def main() -> None:
    """Crash-isolated: one throwing query must NEVER zero the whole run.

    BENCH_r02 (rc=1), BENCH_r03 (parsed:null) and BENCH_r04 (rc=1, a
    CacheManager recache stack under driver-harness load) all recorded
    ZERO numbers because the old loop ran bare and printed the summary
    only after every query succeeded. Now each query runs in its own
    try/except (failures recorded as entries in an "errors" map and
    logged to stderr with the query name), and the compact summary line
    + BENCH_full.json are emitted from a finally, so a partial run still
    yields parseable per-query numbers and exit code 0.
    """
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    min2: set[str] = set()

    headline_tier = BENCH_QUERIES[:N_HEADLINE]
    deep_tier = BENCH_QUERIES[N_HEADLINE:]
    here_dir = os.path.dirname(os.path.abspath(__file__))
    rot = len(glob.glob(os.path.join(here_dir, "BENCH_r*.json")))
    if deep_tier:
        off = rot % len(deep_tier)
        deep_tier = deep_tier[off:] + deep_tier[:off]
    run_order = headline_tier + deep_tier

    def emit() -> None:
        # The driver captures only a bounded tail of stdout: BENCH_r03
        # recorded rc=0 but "parsed": null because the full per-query
        # map is ~5 KB on one line and overflowed the capture buffer.
        # So: full map -> BENCH_full.json; LAST stdout line = compact
        # summary (headline subset only) that always fits.
        full = {
            "metric": "total_headline_query_seconds",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "errors": errors,
            "sf": sf_val,
            "deep_tier_rotation": rot,
            "min2_queries": sorted(min2),
            "single_pass_queries": sorted(set(timings) - min2),
        }
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_full.json"), "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
        headline = {k: timings[k] for k in BENCH_QUERIES[:N_HEADLINE]
                    if k in timings}
        sys.stdout.flush()
        print(json.dumps({
            "metric": "total_headline_query_seconds",
            "value": full["value"],
            "unit": "sec",
            "n_queries": len(timings),
            "n_min2": len(min2),
            "n_failed": len(errors),
            "failed": sorted(errors)[:8],
            "anchor_tpch_q3": timings.get("tpch_q3"),
            "queries": headline,
            "sf": sf_val,
            "full": "BENCH_full.json",
        }))
        sys.stdout.flush()

    try:
        from drune_spark.session import get_spark
        import __spark_entry__ as entrymod

        spark = get_spark("drune_spark_bench")
        spark.sparkContext.setLogLevel("ERROR")
        qs = entrymod.queries()

        def run(name: str) -> float:
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return time.time() - t0

        def warmup() -> None:
            run("j1_join_agg")  # JVM + codegen + parquet footer caches
            # Warm the Python worker pool (reused afterwards) so
            # Arrow/pandas queries measure steady-state, as on a
            # long-running cluster.
            nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            spark.range(0, 256, 1, nparts) \
                .mapInPandas(lambda it: it, schema="id long") \
                .write.format("noop").mode("overwrite").save()

        try:
            warmup()
        except Exception as exc:  # noqa: BLE001 — a cold start still benches
            print(f"bench: warmup failed: {type(exc).__name__}: {exc}",
                  file=sys.stderr)

        # Wall-clock budget: min-of-2 steady-state timing while under
        # budget, degrade to single-pass beyond it (the box throttles
        # under sustained load — see CLAUDE.md — and a driver-side
        # timeout would turn a slow run into NO numbers, which is
        # strictly worse).
        budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "420"))
        t_start = time.time()
        for name in run_order:
            try:
                first = run(name)
                # Past budget, a single first pass still pays cold
                # codegen/JIT for that query's unique operators — the
                # r6 mid-session run recorded 6.3s for a 0.7s
                # steady-state query this way. Re-run anything whose
                # first pass is over 1s (few queries, bounded extra
                # wall); cheap queries absorb at most ~1s of error.
                # The headline tier is budget-exempt: its 20 queries
                # are the cross-round comparison set and always report
                # steady state.
                if (
                    name in headline_tier
                    or time.time() - t_start < budget_s
                    or first > 1.0
                ):
                    try:
                        second = run(name)
                        min2.add(name)
                    except Exception:  # noqa: BLE001 — keep first pass
                        second = first
                    timings[name] = round(min(first, second), 3)
                else:
                    timings[name] = round(first, 3)
            except Exception as exc:  # noqa: BLE001 — isolate per query
                errors[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
                print(f"bench: FAILED {name}: {errors[name]}",
                      file=sys.stderr)
            finally:
                # Several operators persist loop-invariant frames (LSH
                # signatures, CC/BFS edge lists, cluster assignments)
                # and leave them cached for the caller; across a
                # 250+-query single-JVM marathon those blocks accumulate
                # and eventually OOM the heap (observed ~stage 2000).
                # Dropping the cache BETWEEN queries bounds residency at
                # one query's working set without touching any
                # within-query reuse (both timing passes already ran).
                try:
                    spark.catalog.clearCache()
                except Exception:  # noqa: BLE001 — cache drop best-effort
                    pass
    finally:
        emit()


if __name__ == "__main__":
    main()
