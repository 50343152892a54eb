"""Physical-plan audit over every registry query — writes PLANS.md.

For each `queries()` entry, builds the DataFrame at a small scale
factor and extracts the scale-relevant properties from the executed
plan: shuffle (Exchange) count, join strategies, top-k pushdown,
grouping-set Expand, window-limit partial pushdown, whether any filter
was pushed to a scan, and how many ``split(`` calls the optimized plan
holds (a tokenizer that Catalyst copies into per-element lambdas shows
up here as a jump).

This is evidence, not vibes: the PERF.md scaling arguments claim plan
shapes; this table lets a reviewer check every claim in one place,
and diffing PLANS.md across rounds is a plan-shape regression radar
(the pytest pins cover the highest-risk subset; this covers all).

Usage: python3 tools/plan_audit.py [sf_dir] > /dev/null  (writes PLANS.md)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DEFAULT = "/root/testdata/sf0.001"

# Streaming/writer entries execute side effects when the DataFrame is
# built; their returned frame is a sink read-back whose plan is not the
# interesting part. They are audited but flagged.
MATERIALIZING = {
    "stream_window", "stream_sliding", "stream_dedup", "stream_join",
    "stream_enrich", "stream_stateful", "sessionize", "kafka_roundtrip",
    "w1_file_roundtrip", "w3_replace_partition", "w4_partitioned_write",
    "w5_merge_upsert", "w6_scd2", "w7_validation_log", "w9_rollback",
    "d1_ddl_roundtrip", "d2_schema_evolution", "s1_csv_roundtrip",
    "s2_json_roundtrip", "s4_orc_roundtrip", "compact_parquet",
    "bucketed_join", "zorder_layout", "rollup_refresh", "ivf_train",
    "scd2_snapshot",
}


def audit_one(name, df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    full = df._jdf.queryExecution().toString()
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    return {
        "name": name,
        "exchanges": len(re.findall(r"\bExchange (?:hash|range|Single)",
                                    plan)),
        "reused": plan.count("ReusedExchange"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnl": plan.count("BroadcastNestedLoopJoin"),
        "cart": plan.count("CartesianProduct"),
        "topk": plan.count("TakeOrderedAndProject"),
        "wgl": plan.count("WindowGroupLimit"),
        "expand": plan.count("Expand"),
        "pushed": ("PushedFilters: [" in full
                   and "PushedFilters: []" not in full),
        "split": optimized.count("split("),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DEFAULT
    from drune_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows, failed = [], []
    for name, fn in entrymod.queries().items():
        try:
            rows.append(audit_one(name, fn(spark, sf_dir)))
        except Exception as ex:  # noqa: BLE001 — audit must not abort
            failed.append((name, str(ex).splitlines()[0][:100]))

    bad_joins = [r["name"] for r in rows if r["cart"]
                 or (r["bnl"] and r["name"] not in ALLOWED_BNL)]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit of every registry query\n\n"
            f"Generated by tools/plan_audit.py at {sf_dir} over "
            f"{len(rows)} queries ({len(failed)} failed to build). "
            "Columns: shuffles (Exchange ops, minus reuse), broadcast /"
            " sort-merge / nested-loop / cartesian join counts, top-k "
            "pushdown (TakeOrderedAndProject), WindowGroupLimit "
            "partials, Expand passes,"
            ", whether any filter reached a scan, and the number of "
            "split( calls in the optimized logical plan (one per "
            "tokenizer; more means Catalyst copied one into lambdas or "
            "filters). Entries marked (m)"
            " materialize side effects (writers/streams): their plan "
            "is the read-back, not the pipeline.\n\n"
            "Audit invariant: NO query may plan a CartesianProduct, "
            "and BroadcastNestedLoopJoin is allowed only for bounded "
            "broadcast sides (1-row scalar frames, k-row centroid/"
            "query/bloom frames, documented brute-force baselines — "
            "see ALLOWED_BNL in tools/plan_audit.py).\n\n"
            "Iterative operators (bfs_khop, ivf_train, pagerank, "
            "dedup_clusters) persist per-round frames; the static "
            "plan string prints the full lineage under every "
            "InMemoryRelation, so their shuffle counts here overstate "
            "runtime cost — each cached subtree executes once.\n\n"
        )
        if bad_joins:
            f.write(f"**VIOLATIONS: {bad_joins}**\n\n")
        f.write("| query | shuf | bhj | smj | bnl | cart | topk | wgl |"
                " expand | pushed | split |\n")
        f.write("|---|---|---|---|---|---|---|---|---|---|---|\n")
        for r in rows:
            nm = r["name"] + (" (m)" if r["name"] in MATERIALIZING
                              else "")
            f.write(
                f"| {nm} | {r['exchanges']} | {r['bhj']} | {r['smj']} |"
                f" {r['bnl']} | {r['cart']} | {r['topk']} | {r['wgl']} |"
                f" {r['expand']} |"
                f" {'y' if r['pushed'] else ''} | {r['split']} |\n"
            )
        if failed:
            f.write("\n## Failed to build\n\n")
            for name, msg in failed:
                f.write(f"- {name}: {msg}\n")
    print(f"wrote PLANS.md: {len(rows)} audited, {len(failed)} failed, "
          f"violations={bad_joins}")


# Legitimate BroadcastNestedLoopJoin sites, each a bounded broadcast
# side by construction: 1-row scalar/totals frames (cross-join of a
# single agg row), k-row centroid/query/bloom frames (ann_* probes =
# brute-force baseline or 16-centroid assignment; kmv pair fan-out is
# <= k*labels rows; collocations/bloom totals are 1 row), and the
# documented brute-force all-pairs baseline dedup_embedding (ann_lsh
# is its scale path).
ALLOWED_BNL = {
    "basket_rules", "group_split", "skew_keys", "corpus_stats",
    "table_profile", "vocab_coverage", "decontaminate", "zorder_layout",
    "equidepth_bins", "mad_outliers", "winsorized_stats", "funnel",
    "source_divergence", "value_histogram", "hybrid_search",
    "token_freq_score", "bm25_search", "collocations",
    "bloom_prune_join", "kmv_set_ops", "dedup_embedding", "ann_topk",
    "ann_ivf_assign", "ann_ivf_topk", "freshness_audit",
    "percent_of_total", "abc_classification",
    "dow_seasonality", "intraday_profile", "ks_test",
    "gini_spend", "churn_flags", "brand_price_index",
    # broadcast 1-row representative-count (totals pattern): the BNL
    # side is a single aggregate row crossed into the probe stream
    "negative_pairs",
    # broadcast 1-row totals frame + broadcast value-CELL range join
    # (non-equi on the cumulative count — bounded by the value domain,
    # the weighted_percentile cell discipline)
    "quantile_norm",
    # broadcast `checkpoints`-row (8) prefix-size frame crossed into
    # the per-type first-index table — the totals pattern, bounded by
    # the checkpoint constant
    "heaps_law",
    # eval wrappers inherit the allowed BNLs of the rankings they
    # evaluate (ann_topk/ann_lsh queries-broadcast, bm25 stats rows)
    "ann_recall", "retrieval_mrr",
    # inherits ann_ivf_assign's broadcast 16-row centroid cross; the
    # within-cluster self-join itself is an equi-join on centroid_id
    "semdedup",
    # two broadcast 1-row scalar frames (totals + waterfill threshold)
    # crossed into the s-row domain table — the percent_of_total pattern
    "unimax_mix",
    # broadcast 16-row query-token side crossed into the corpus scan —
    # the ann_topk queries-broadcast shape (corpus never shuffles)
    "maxsim_retrieval",
    # broadcast 1-row join-size total crossed into the key-cell table
    # (totals pattern)
    "join_cardinality",
    # broadcast 1-row key-count total crossed into the n_shards-row
    # balance report (totals pattern)
    "rendezvous_shards",
    # inherits dedup_embedding's documented brute-force all-pairs cross
    # (it IS the ground truth being evaluated) + the 16-row centroid
    # broadcast of ann_ivf_assign
    "semdedup_eval",
    # broadcast m-row band-domain cross into the class-cell table (the
    # full-domain EMD needs every class x band cell) + the 1-row
    # totals frame — both bounded
    "t_closeness",
    # inherits bm25_search's broadcast 1-row corpus-stats cross (the
    # ranking under evaluation) — the retrieval_mrr precedent
    "ndcg_eval",
    # broadcast 1-row label-totals frame crossed into the category
    # cells (totals pattern)
    "woe_encode",
    # broadcast 20-row eval-vector side crossed into the corpus scan —
    # the ann_topk queries-broadcast shape (corpus never shuffles)
    "decontaminate_semantic",
    # same eval-vector broadcast cross inside the composed report's
    # semantic signal (dedup.contamination_report); the n-gram and URL
    # signals are equi-joins on broadcast benchmark sets
    "contamination_report",
    # broadcast 1-row span-bounds aggregate crossed into the event
    # stream (sampling.recency_weights — the totals pattern)
    "recency_sample",
    # inherits ann_topk's 3-row query broadcast (candidate retrieval);
    # the candidate self-join is bounded to Q * n_candidates rows
    "mmr_rerank",
    # two bounded crosses of the contingency margins: the sources-row
    # frame x the langs-row frame x the 1-row grand total (chi-squared
    # needs the FULL grid incl. zero cells — the totals pattern twice)
    "chi2_drift",
    # two 1-row scalar crosses (weight total + leftover) into the
    # source-cell table — the unimax_mix totals pattern
    "temperature_mix",
    # inherits ann_ivf_assign's broadcast 16-row centroid cross (the
    # blocking quantizer); the within-cell pair stage itself is an
    # equi-join on block_id — the semdedup precedent exactly
    "dbscan",
    # two broadcast 1-row scalar frames (vocab total + tercile cutoffs)
    # crossed into vocabulary-/doc-sized streams — the totals pattern
    "unigram_surprisal",
    # broadcast 1-row min/max range frame crossed into the scan for
    # exact integer normalization (the zorder_column shape)
    "hilbert_layout",
    # inherits ann_ivf_assign's broadcast 16-row centroid cross — the
    # vectors stream past the k-row centroid frame once (O(n·k)),
    # then only (vec_id, centroid_id, sim) cells aggregate
    "silhouette",
    # broadcast 1-row m2 scalar crossed onto ~25 community cells
    # (the temperature_mix shape)
    "modularity",
    # ivf_assign's broadcast k-row centroid cross (the silhouette /
    # semdedup shape); the kNN pair join itself is a centroid_id
    # equi-join
    "label_noise",
    # the chained step-type gates (r7) inherit their wrapped operators'
    # documented bounded broadcasts: ann_pipeline = ann_topk's
    # ≤10-row query broadcast past the corpus scan; screen_pipeline =
    # label_noise's ivf_assign centroid cross on the screened corpus
    "ann_pipeline",
    "screen_pipeline",
    # the composed IVF-PQ serving chain (r8): a 32-row codebook
    # broadcast crossed into the ≤10-row query frame (the ADC lookup
    # table) + the exact-baseline query broadcast of ann_topk; the
    # candidate stage itself is cell/cand/code equi-joins
    "ivfpq_serve",
    # inherits ann_topk's 5-row query broadcast (the exact top-k scan
    # it audits); the k²-bounded candidate pair stage is an equi-join
    # on query_id
    "rank_tau",
    # broadcast 1-row train-vocabulary scalar crossed into the
    # held-out cell stream (the totals pattern)
    "heldout_bits",
    # inherits ann_topk's 5-row query broadcast (the exact baseline)
    # plus the 5-query × 32-row codebook lookup-table cross — both
    # bounded; the ADC scoring join itself is an (s, code) equi-join
    "pq_recall",
    # broadcast 1-row conformal-threshold frame crossed into the
    # held-out scan (the totals pattern)
    "conformal",
    # inherits ann_topk's 5-row query broadcast (the shared
    # corpus×queries scoring scan) + the 5-query × 3-row truncation-dim
    # grid cross for zero-fill — both bounded
    "matryoshka_recall",
    # broadcast 1-row corpus-total frame crossed into the row stream
    # (the percent_of_total totals pattern)
    "rejection_match",
    # inherits bm25_search's broadcast stats/df-row crosses (the
    # feedback retrieval) + the 1-row n_docs total on the candidate
    # term stream (totals pattern)
    "query_expansion",
    # broadcast 16-row centroid cross on both populations (the
    # ann_ivf_assign shape) + the 1-row totals frame on the 16-cell
    # report (totals pattern)
    "ivf_drift",
    # broadcast 3-row fold frame + 1-row (min, max) span frame crossed
    # into the event scan (totals pattern, fold fan-out)
    "walkforward_split",
    # broadcast 5-row query-signature frame crossed (<> self-exclude)
    # into the corpus signature stream — the ann_topk queries-broadcast
    # shape on 8-byte rows; the rerank joins are id equi-joins
    "bq_rerank",
    # inherits bm25_search's broadcast stats/df-row crosses; the
    # positive-anchor join is a broadcast 3-row equi-join on query_id
    "hard_negatives",
    # seed_cell_assign's broadcast 8-row seed cross (the
    # ann_ivf_assign centroid shape); packing itself is windows +
    # one id equi-join
    "sim_pack",
}


if __name__ == "__main__":
    main()
