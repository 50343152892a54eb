"""Physical-plan regression tests — the 100 TB guarantees as assertions.

These inspect `.explain` output for the properties that make the engine
scale: predicate pushdown reaching the parquet scan, column pruning,
broadcast joins for small dims, TakeOrderedAndProject for top-k, and
shuffle-free MinHash signatures. A refactor that silently breaks one of
these would pass value-level tests and still be 10-100× slower at scale.
"""

import pytest

from drune_spark.operators import replay

SF = "/root/testdata/sf0.001"


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def full_plan(df) -> str:
    return df._jdf.queryExecution().toString()


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as entrymod
    return entrymod


class TestPlans:
    def test_filter_pushdown_reaches_scan(self, spark, entry):
        plan = full_plan(entry.q_p5_filter_step(spark, SF))
        assert "PushedFilters: [" in plan
        assert "o_orderstatus" in plan.split("PushedFilters:")[1][:200]

    def test_column_pruning_on_q1(self, spark, entry):
        plan = full_plan(entry.q_a1_pricing_summary(spark, SF))
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        # The scan must not read the 5 unused lineitem columns.
        assert "l_orderkey" not in read_schema
        assert "l_quantity" in read_schema

    def test_join_agg_broadcasts_dims(self, spark, entry):
        plan = executed_plan(entry.q_j1_join_agg(spark, SF))
        assert plan.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in plan

    def test_topk_is_take_ordered(self, spark, entry):
        plan = executed_plan(entry.q_topk_customers(spark, SF))
        assert "TakeOrderedAndProject" in plan
        # No global sort of the full aggregate output.
        assert "Sort [rev_dec" not in plan

    def test_minhash_signatures_shuffle_free(self, spark):
        from drune_spark.operators.dedup import minhash_signatures
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        plan = executed_plan(minhash_signatures(docs, "text", "doc_id"))
        # fan_out introduces exactly one round-robin repartition of the
        # small input; there must be NO hash/range shuffle from the
        # signature computation itself.
        assert "hashpartitioning" not in plan
        assert "rangepartitioning" not in plan

    def test_text_kernels_tokenize_once(self, spark):
        """redact → quality_filter through the step registry: the step
        filters its input in place (no join), and the whole plan
        carries ONE tokenizer and at most two redaction chains — the
        keep filter Catalyst pushes to the scan and the output
        projection — not a copy per metric reference or per n-gram
        lambda (pushdown and CollapseProject inline projected aliases;
        the let-bound metrics struct leaves nothing to inline). Same
        for the MinHash shingle builder."""
        import drune_spark.operators.llm_steps  # noqa: F401 (registers)
        from drune_spark.operators.dedup import _doc_shingles
        from drune_spark.operators.redaction import DEFAULT_PATTERNS
        from drune_spark.operators.registry import StepRegistry

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        red = StepRegistry.get("redact")(spark, "scrub").execute(
            {}, docs, text_col="text")
        out = StepRegistry.get("quality_filter")(spark, "gate").execute(
            {}, red, text_col="text", id_col="doc_id")

        def find(node, name):
            if node.nodeName() == name:
                return node
            kids = node.children()
            for i in range(kids.size()):
                hit = find(kids.apply(i), name)
                if hit is not None:
                    return hit
            return None

        plan = out._jdf.queryExecution().optimizedPlan()
        assert find(plan, "Join") is None
        chain = len(DEFAULT_PATTERNS)  # regexp_replace calls per chain
        text = plan.toString()
        assert text.count("split(") == 1
        assert text.count("regexp_replace(") <= 2 * chain

        sh = _doc_shingles(docs, "text", "doc_id", 5)
        assert sh._jdf.queryExecution().optimizedPlan().toString() \
            .count("split(") == 1

    def test_quality_filter_step_matches_kept_id_semi_join(self, spark):
        """On a corpus with unique ids the in-place quality_filter step
        returns the rows the kept-id semi-join returned, all columns
        included, and the single-file scan still gets fan_out's
        round-robin exchange."""
        import drune_spark.operators.llm_steps  # noqa: F401 (registers)
        from pyspark.sql import functions as F

        from drune_spark.operators.registry import StepRegistry
        from drune_spark.operators.text_analysis import gopher_filter

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        out = StepRegistry.get("quality_filter")(spark, "gate").execute(
            {}, docs, text_col="text", id_col="doc_id")
        kept = gopher_filter(docs, "text", "doc_id") \
            .filter(F.col("keep")).select("doc_id")
        want = docs.join(kept, "doc_id", "left_semi")
        assert out.columns == docs.columns
        got = sorted(map(repr, map(tuple, out.collect())))
        assert got and got == sorted(map(repr, map(tuple, want.collect())))
        assert "RoundRobinPartitioning" in executed_plan(out)

    def test_schema_apply_is_single_projection(self, spark, entry):
        plan = executed_plan(entry.q_p1_schema_apply(spark, SF))
        assert "Exchange" not in plan  # narrow: no shuffle at all
        assert plan.count("Project") <= 2  # base select + derived column

    def test_ann_topk_partial_window_limit(self, spark):
        """The per-query top-k must prune per input partition BEFORE the
        shuffle (WindowGroupLimit Partial below the Exchange), so the
        per-query reducer sees <= k * num_partitions rows, never the
        whole corpus — the round-1 single-task-funnel fix."""
        from pyspark.sql import functions as F

        from drune_spark.operators.similarity import brute_force_topk

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        queries = emb.orderBy("vec_id").limit(5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        plan = executed_plan(brute_force_topk(emb, queries, k=5))
        lines = plan.splitlines()
        partial = [i for i, l in enumerate(lines)
                   if "WindowGroupLimit" in l and "Partial" in l]
        final = [i for i, l in enumerate(lines)
                 if "WindowGroupLimit" in l and "Final" in l]
        exchange = [i for i, l in enumerate(lines)
                    if "Exchange hashpartitioning(query_id" in l]
        assert partial and final and exchange
        # Plan prints root-first: the Partial limit must sit BELOW the
        # shuffle (appear after it), the Final above.
        assert final[0] < exchange[0] < partial[0]
        # Queries are broadcast; the corpus itself never hash-shuffles.
        assert "BroadcastExchange" in plan

    def test_ivf_assign_no_global_window(self, spark):
        """Centroid pick must be TakeOrdered (never a no-partition window
        sorting the corpus in one task) and the nearest-centroid argmax a
        partial aggregation (one row per vector crosses the shuffle)."""
        from drune_spark.operators.similarity import ivf_assign

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        plan = executed_plan(ivf_assign(emb, n_centroids=16))
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan
        assert "partial_min" in plan
        # Exactly one hash shuffle: the final argmax merge.
        assert plan.count("Exchange hashpartitioning") == 1

    def test_ivf_topk_partition_pruned_search(self, spark):
        """IVF search: centroid pick stays TakeOrdered, assignment argmax
        stays a partial agg, probes broadcast into the corpus join on
        centroid_id (the partition-pruning shape), and the exact top-k
        tail keeps the rank-limit pushdown (Partial below the Exchange)."""
        from pyspark.sql import functions as F

        from drune_spark.operators.similarity import ivf_topk

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        queries = emb.filter("vec_id < 5").withColumnRenamed(
            "vec_id", "query_id"
        )
        plan = executed_plan(ivf_topk(emb, queries, k=5, nprobe=4))
        assert "TakeOrderedAndProject" in plan
        assert "partial_min" in plan
        # The search join: corpus probe-side is broadcast, keyed on the
        # coarse cell — with a centroid-partitioned table this is the
        # partition-pruned read.
        assert "BroadcastHashJoin [centroid_id" in plan
        # Rank-limit pushdown on the k=5 tail: Partial below the
        # query_id shuffle, Final above (plan prints root-first).
        lines = plan.splitlines()
        partial = [i for i, l in enumerate(lines)
                   if "row_number(), 5, Partial" in l]
        final = [i for i, l in enumerate(lines)
                 if "row_number(), 5, Final" in l]
        exchange = [i for i, l in enumerate(lines)
                    if "Exchange hashpartitioning(query_id" in l]
        assert partial and final and exchange
        assert final[0] < exchange[0] < partial[0]

    def test_ivf_pq_serve_probe_pruned(self, spark):
        """The composed IVF-PQ serving path (VERDICT r7 #5): candidate
        generation must be the probes ⋈ cellmap equi-join on the coarse
        cell (the partition-pruning shape — with a cell-partitioned
        table this is a pruned read), the ADC chain must be planned
        exactly ONCE (rank and candidate count share one window
        shuffle), and nothing may fall back to a cartesian."""
        from drune_spark.operators.embeddings import ivf_pq_serve

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        plan = executed_plan(ivf_pq_serve(emb))
        assert "CartesianProduct" not in plan
        # Probe join keyed on the coarse cell.
        assert "BroadcastHashJoin [cell" in plan
        # ADC candidate chain appears once: a single cand-keyed join
        # feeds both the top-k rank and the n_cand window.
        assert plan.count("SortMergeJoin [cand") + plan.count(
            "BroadcastHashJoin [cand"
        ) == 1
        # Lloyd centroid pick stays TakeOrdered inside ivf_train's
        # passes; the final window pair shares one query_id shuffle.
        assert "TakeOrderedAndProject" in plan

    def test_partitioned_readback_prunes_partitions(self, spark, entry):
        """The w4 gate query's partition-column filter must prune
        directories at scan time, not filter rows post-read."""
        plan = full_plan(entry.q_w4_partitioned_write(spark, SF))
        pf = plan.split("PartitionFilters:")[1][:200]
        assert "st" in pf
        # The pruned scan reads data columns only — st comes from the
        # directory structure, never from row groups.
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "vl_total" in read_schema and "st:" not in read_schema

    def test_quality_flags_no_shuffle(self, spark):
        """Non-`unique` constraints must stay narrow (flag columns fused
        into the scan stage)."""
        from drune_spark.config.models import (
            ColumnSpec, ConstraintSpec, SchemaSpec,
        )
        from drune_spark.quality.manager import apply_constraints

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        schema = SchemaSpec(columns=[
            ColumnSpec(name="o_totalprice", type="double", constraints=[
                ConstraintSpec(rule="isbetween:[0, 1000000]", on_fail="drop"),
            ]),
            ColumnSpec(name="o_orderstatus", type="str", constraints=[
                ConstraintSpec(rule="isin:['O','F','P']", on_fail="warn"),
            ]),
        ])
        from drune_spark.plans.schema_apply import apply_schema
        df = apply_schema(orders, schema)
        result = apply_constraints(df, schema, collect_counts=False)
        plan = executed_plan(result.passed)
        assert "Exchange" not in plan

    def test_window_analytics_single_sort_exchange(self, spark, entry):
        """Four window outputs (lag, row_number, running sum, 3-row
        sum) over the same (user_id, ts) ordering must share ONE
        Exchange and ONE Sort — Catalyst collapses same-spec windows;
        a regression here doubles the shuffle count."""
        df = entry.q_window_analytics(spark, SF)
        plan = executed_plan(df)
        assert plan.count("Exchange hashpartitioning(user_id") == 1
        assert plan.count("Sort [") == 1

    def test_rolling_features_single_sort_exchange(self, spark, entry):
        """Both 1h and 1d RANGE frames order by the same (user_id,
        ts_us) — one Exchange, one Sort for all four outputs."""
        df = entry.q_rolling_features(spark, SF)
        plan = executed_plan(df)
        assert plan.count("Exchange hashpartitioning(user_id") == 1
        assert plan.count("Sort [") == 1

    def test_skew_keys_takeordered(self, spark, entry):
        """Top-k heavy hitters must be TakeOrdered (per-partition
        heaps), never a global sort of all keys."""
        df = entry.q_skew_keys(spark, SF)
        plan = executed_plan(df)
        assert "TakeOrderedAndProject" in plan

    def test_cdc_apply_partial_top1_below_exchange(self, spark, entry):
        """row_number()==1 must plan as WindowGroupLimit with a Partial
        pass BELOW the key Exchange — map tasks forward one candidate
        per key, never the key's change history."""
        df = entry.q_cdc_apply(spark, SF)
        plan = executed_plan(df)
        # two instances: Partial (map side, below Exchange) + Final
        assert plan.count("WindowGroupLimit") == 2
        assert "Partial" in plan and "Final" in plan

    def test_profile_table_single_scan(self, spark, entry):
        """The per-column profile fan-out must not replan one scan per
        column (6 columns -> 2 scans for exact mode: the distinct-only
        Expand agg + the keyless min/max agg — NOT 6). And no Sort
        anywhere: fusing the two aggs demotes the Expand side to a
        sort-BASED aggregate (string min/max buffers aren't hash-agg
        mutable), which plans a full Sort of C× the input. The keyless
        min/max agg may itself be a SortAggregate — keyless needs no
        Sort, so the plan pin is on Sort nodes, not the agg flavor."""
        df = entry.q_table_profile(spark, SF)
        plan = executed_plan(df)
        assert plan.count("Scan parquet") == 2
        assert "Sort [" not in plan

    def test_profile_table_approx_single_scan(self, spark, entry):
        """Default (approx/HLL) profile is one Expand-free scan."""
        from drune_spark.operators.profile import profile_table
        df = profile_table(entry._t(spark, SF, "orders"))
        plan = executed_plan(df)
        assert plan.count("Scan parquet") == 1
        assert "Expand" not in plan

    def test_zorder_minmax_is_broadcast_not_collect(self, spark, entry):
        """zorder_column keeps the min/max bounds in-plan via a
        broadcast join (no driver collect)."""
        df = entry.q_zorder_layout(spark, SF)
        plan = executed_plan(df)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    def test_quota_sample_partial_limit_below_exchange(self, spark, entry):
        """Exact-quota sampling must push the per-group limit below the
        shuffle: map tasks ship <= quota rows per group."""
        df = entry.q_quota_sample(spark, SF)
        plan = executed_plan(df)
        assert "WindowGroupLimit" in plan
        assert "Partial" in plan and "Final" in plan

    def test_fuzzy_link_no_nested_loop(self, spark, entry):
        """Bigram blocking must plan as equi-joins — a fuzzy join that
        falls back to BroadcastNestedLoop is the |L|x|R| death it is
        supposed to avoid."""
        df = entry.q_fuzzy_link(spark, SF)
        plan = executed_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_hll_sliding_no_range_join(self, spark, entry):
        """The windowed sketch merge restricts ends via an equi-join
        (explode fan-out), never a range/theta join."""
        df = entry.q_hll_sliding(spark, SF)
        plan = executed_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_cms_probe_is_broadcast(self, spark, entry):
        """CMS point-estimates broadcast the d x w cell frame; probe
        keys must not shuffle to meet the sketch."""
        df = entry.q_cms_topk(spark, SF)
        plan = executed_plan(df)
        assert "BroadcastExchange" in plan

    def test_inverted_index_takeordered(self, spark, entry):
        """Top-terms selection must be TakeOrdered (per-partition
        heaps), not a global Sort+Limit."""
        df = entry.q_inverted_index(spark, SF)
        plan = executed_plan(df)
        assert "TakeOrderedAndProject" in plan

    def test_rank_family_single_sort_exchange(self, spark, entry):
        """Six rank functions off ONE WINDOW clause: exactly one
        Exchange hashpartitioning + one Sort."""
        df = entry.q_rank_family(spark, SF)
        plan = executed_plan(df)
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("Sort [") == 1

    def test_string_functions_no_shuffle(self, spark, entry):
        """Scalar string expressions stay in one codegen stage —
        no Exchange of any kind."""
        df = entry.q_string_functions(spark, SF)
        plan = executed_plan(df)
        assert "Exchange" not in plan

    def test_dpp_join_runtime_partition_pruning(self, spark, entry):
        """Joining the partitioned fact to a filtered dim must inject a
        dynamic-pruning subquery into the partition filters — at scale
        only the matching partition directories are read."""
        plan = full_plan(entry.q_dpp_join(spark, SF))
        assert "dynamicpruning" in plan.lower()


class TestSecondWavePlans:
    def test_target_encode_broadcast_cells_no_smj(self, spark, entry):
        plan = executed_plan(entry.q_target_encode(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_basket_rules_frequency_joins_broadcast(self, spark, entry):
        plan = executed_plan(entry.q_basket_rules(spark, SF))
        # freq tables and the 1-row totals frame must broadcast; the
        # only SMJ allowed is the pair self-join on the basket key.
        assert plan.count("BroadcastHashJoin") >= 2
        assert "BroadcastNestedLoopJoin" in plan  # 1-row totals cross join
        assert "CartesianProduct" not in plan

    def test_skyline_no_row_level_global_sort(self, spark, entry):
        plan = executed_plan(entry.q_skyline_pareto(spark, SF))
        # frontier scan runs over cells after a partial agg; the raw
        # scan side must not be globally range-partitioned.
        assert "rangepartitioning" not in plan.lower().split("broadcast")[0]
        assert "BroadcastHashJoin" in plan

    def test_ri_audit_broadcast_parents(self, spark, entry):
        plan = executed_plan(entry.q_ri_audit(spark, SF))
        assert plan.count("BroadcastHashJoin") >= 4
        assert "SortMergeJoin" not in plan

    def test_spatial_join_equi_not_nested_loop(self, spark, entry):
        plan = executed_plan(entry.q_spatial_join(spark, SF))
        assert "BroadcastNestedLoop" not in plan
        assert "CartesianProduct" not in plan

    def test_running_distinct_windows_on_cells(self, spark, entry):
        plan = executed_plan(entry.q_running_distinct(spark, SF))
        # the running-sum window must sit above the day-cell aggregate
        # (partial agg before its exchange), not above raw events
        assert "Window" in plan
        assert "partial_count" in plan or "partial" in plan.lower()


class TestRound4Plans:
    def test_image_decode_shuffle_free(self, spark, entry):
        plan = executed_plan(entry.q_image_decode(spark, SF))
        assert "Exchange" not in plan  # encode->decode is one narrow chain

    def test_audio_decode_shuffle_free(self, spark, entry):
        plan = executed_plan(entry.q_audio_decode(spark, SF))
        assert "Exchange" not in plan

    def test_keyword_extract_topk_prunes_below_exchange(self, spark, entry):
        plan = executed_plan(entry.q_keyword_extract(spark, SF))
        # df table broadcast back onto tf cells — never a sort-merge
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
        # rank<=k must prune map-side: Partial WindowGroupLimit BELOW
        # the doc_id exchange ships <=k rows per doc per task
        assert "WindowGroupLimit" in plan
        partial_idx = plan.find("WindowGroupLimit [doc_id")
        assert partial_idx != -1

    def test_negative_pairs_corpus_never_shuffles(self, spark, entry):
        plan = executed_plan(entry.q_negative_pairs(spark, SF))
        # representatives + count broadcast; anchor side stays narrow —
        # the only exchanges build the <=B-row rep table
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestRound4ThirdWavePlans:
    def test_semdedup_self_join_is_equi_not_nested_loop(self, spark, entry):
        """The within-cluster self-join must extract centroid_id as a
        hash/SMJ key; only the bounded 16-row centroid assignment cross
        may appear as BNL."""
        plan = executed_plan(entry.q_semdedup(spark, SF))
        assert "CartesianProduct" not in plan
        assert plan.count("SortMergeJoin") + plan.count(
            "BroadcastHashJoin") >= 1

    def test_maxsim_query_tokens_broadcast_corpus_stays(self, spark, entry):
        """Query tokens ride a broadcast; the corpus token scan feeds
        the partial MAX without a prior Exchange of raw pairs."""
        plan = executed_plan(entry.q_maxsim_retrieval(spark, SF))
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan

    def test_model_inputs_vocab_broadcast(self, spark, entry):
        plan = executed_plan(entry.q_model_inputs(spark, SF))
        assert "BroadcastHashJoin" in plan          # token→id mapping
        assert "CartesianProduct" not in plan

    def test_sparse_cosine_no_cartesian(self, spark, entry):
        """Candidate pairs come from the term-key equi-join (inverted
        index), never an all-pairs cartesian."""
        plan = executed_plan(entry.q_sparse_cosine(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_join_cardinality_aggregates_before_join(self, spark, entry):
        """Both inputs must collapse to key cells (partial HashAggregate
        below the Exchange) before the cell join — the whole point of
        profiling instead of running the join."""
        plan = executed_plan(entry.q_join_cardinality(spark, SF))
        assert plan.count("HashAggregate") >= 4     # partial+final ×2
        assert "TakeOrderedAndProject" in plan

    def test_unimax_window_runs_on_domain_cells(self, spark, entry):
        """The waterfilling window sorts the s-row domain table, not the
        corpus: the corpus-sized aggregate happens BELOW the window."""
        plan = executed_plan(entry.q_unimax_mix(spark, SF))
        assert "Window" in plan
        assert "CartesianProduct" not in plan

    def test_rendezvous_argmax_is_partial_agg_no_window(self, spark, entry):
        """The per-key HRW argmax is a map-side-combinable max — no
        window sort of the exploded candidates."""
        plan = executed_plan(entry.q_rendezvous_shards(spark, SF))
        assert "Window" not in plan
        assert "HashAggregate" in plan

    def test_incremental_dedup_batch_side_broadcasts(self, spark, entry):
        """DISTRIBUTED batch-probe (pinned via replay.distributed()):
        the arriving batch's band table must ride a broadcast — the
        corpus band index is probed map-side (no corpus shuffle into
        the candidate join)."""
        with replay.distributed():
            plan = executed_plan(entry.q_incremental_dedup(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_incremental_dedup_driver_path_is_local_scan(
        self, spark, entry
    ):
        """Below the doc cutoff (the default at gate scale) the
        portable batch-probe replays on the driver (r11
        _incremental_replay): the returned plan is one local verdict
        frame — no joins, no exchanges, the ~8 micro-jobs of the
        distributed probe gone."""
        plan = executed_plan(entry.q_incremental_dedup(spark, SF))
        for op in ("SortMergeJoin", "BroadcastHashJoin", "Exchange"):
            assert op not in plan

    def test_ewma_is_arrow_grouped_map(self, spark, entry):
        """The recurrence runs as the Arrow grouped-map operator (one
        batch per series), not a row-at-a-time Python UDF."""
        plan = executed_plan(entry.q_ewma_monitor(spark, SF))
        assert "FlatMapGroupsInPandas" in plan
        assert "BatchEvalPython" not in plan

    def test_curriculum_topk_is_take_ordered(self, spark, entry):
        """The curriculum head read must plan TakeOrderedAndProject —
        no global sort or single-partition window materializes the
        order at any scale."""
        plan = executed_plan(entry.q_curriculum_order(spark, SF))
        assert "TakeOrderedAndProject" in plan
        assert "rownum" not in plan.lower().replace("row_number", "")

    def test_mmr_candidate_gen_keeps_partial_window_limit(self, spark, entry):
        """MMR's retrieval stage inherits the pinned ann_topk shape:
        rank-limit partials below the exchange, queries broadcast, and
        the greedy recurrence as a cogrouped Arrow map — never a
        cartesian or a row-at-a-time Python UDF."""
        plan = executed_plan(entry.q_mmr_rerank(spark, SF))
        assert "WindowGroupLimit" in plan and "Partial" in plan
        assert "FlatMapCoGroupsInPandas" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan

    def test_boilerplate_df_shuffles_fingerprints_not_text(self, spark, entry):
        """The DF aggregate must group on the md5 fingerprint column
        (segment text never shuffles) and plan a partial aggregate."""
        plan = executed_plan(entry.q_boilerplate_df(spark, SF))
        assert "md5" in plan
        assert "HashAggregate" in plan
        assert "CartesianProduct" not in plan

    def test_unigram_surprisal_no_global_row_window(self, spark, entry):
        """Tercile cutoffs come from the percentile aggregate broadcast
        as one row — NOT an ntile window over all docs (which would
        funnel the corpus through one partition)."""
        import re

        plan = executed_plan(entry.q_unigram_surprisal(spark, SF))
        # \bntile( — not the ...ntile( tail of "percentile("
        assert not re.search(r"(?<![a-z_])ntile\(", plan.lower())
        assert "percentile" in plan.lower()
        assert "BroadcastNestedLoopJoin" in plan  # the 1-row cutoff cross

    def test_label_noise_topk_is_window_group_limit(self, spark, entry):
        """The per-probe 5-NN rank must push a WindowGroupLimit below
        the window sort (never a full per-probe sort materialization)
        and the pair join must be a centroid_id equi-join, not a
        cartesian."""
        plan = executed_plan(entry.q_label_noise(spark, SF))
        assert "WindowGroupLimit" in plan
        assert "CartesianProduct" not in plan

    def test_bin_pack_is_arrow_grouped_map(self, spark, entry):
        """The next-fit recurrence must run as ONE Arrow grouped-map
        stage (FlatMapGroupsInPandas) over shard cells — text never
        enters the plan."""
        plan = executed_plan(entry.q_bin_pack(spark, SF))
        assert "FlatMapGroupsInPandas" in plan
        assert "CartesianProduct" not in plan

    def test_image_neardup_group_is_two_int_agg(self, spark, entry):
        """Near-dup grouping happens on the two hash halves AFTER the
        decode stage: a hash aggregate, no join anywhere, binary
        content dropped before the shuffle."""
        plan = executed_plan(entry.q_image_neardup(spark, SF))
        assert "HashAggregate" in plan
        assert "Join" not in plan
        # the only hash shuffle keys on the two hash halves — binary
        # content never reaches an Exchange
        assert "hashpartitioning(hash_hi" in plan
        assert "hashpartitioning(content" not in plan

    def test_modularity_single_pass_no_branch_replan(self, spark, entry):
        """DISTRIBUTED partition_modularity (pinned via
        replay.distributed()): l2_internal/degree_sum/m2 all read ONE eagerly-
        persisted aggregate over the tagged edge list (r10 one-pass
        shape): both plan branches consume the cache, so the lineitem
        self-join executes exactly once regardless of how many textual
        copies the InMemoryRelation snapshot embeds (a raw join count
        over the plan string double-counts the cached subtree's final
        + initial AQE plan texts)."""
        with replay.distributed():
            plan = executed_plan(entry.q_modularity(spark, SF))
        assert "BroadcastNestedLoopJoin" in plan  # bounded 1-row cross
        assert "CartesianProduct" not in plan
        # both the output cells and the m2 total read the persisted
        # cell frame — a branch re-plan would drop a cache reference
        assert plan.count("InMemoryTableScan") == 2
        # and no join executes OUTSIDE the cached subtree: the live
        # plan region before the first cache snapshot is join-free
        head = plan.split("InMemoryRelation", 1)[0]
        assert "SortMergeJoin" not in head
        assert "BroadcastHashJoin" not in head

    def test_modularity_driver_path_is_local_scan(self, spark, entry):
        """Below the edge cutoff (the default at gate scale) the
        community cells replay on the driver (r11
        _modularity_driver_result): no joins, no exchanges in the
        returned plan."""
        plan = executed_plan(entry.q_modularity(spark, SF))
        for op in ("SortMergeJoin", "BroadcastHashJoin", "Exchange",
                   "BroadcastNestedLoopJoin"):
            assert op not in plan

    def test_set_sim_join_reads_cached_token_table(self, spark, entry):
        """DISTRIBUTED prefix_filter_join (pinned via
        replay.distributed()) persists the (doc, token) table (5 consumers) and the
        candidate pairs (2 consumers): without the caches the pair
        verification re-tokenizes the corpus per branch (r10 interleaved
        A/B at sf0.1: 128-145 s/pass unpersisted vs 31-42 s). Pin that
        the executed plan reads the caches — an unpersist-hygiene
        cleanup would silently restore the re-runs."""
        with replay.distributed():
            plan = executed_plan(entry.q_set_sim_join(spark, SF))
        assert "InMemoryTableScan" in plan
        # the verification join consumes ta AND tb from the token cache
        # plus the candidate cache in two branches — several reads even
        # after AQE dedup
        assert plan.count("InMemoryTableScan") >= 3

    def test_set_sim_join_driver_path_is_local_scan(self, spark, entry):
        """Below the cell cutoff (the default at gate scale) the exact
        replay materializes pair rows in executor Python workers from
        the broadcast packed state (r11: MapInArrow over a range leaf):
        no joins, no exchanges in the returned plan — the
        job-sequencing cost of the PPJoin tree is gone, and the result
        never transits the driver."""
        plan = executed_plan(entry.q_set_sim_join(spark, SF))
        for op in ("SortMergeJoin", "BroadcastHashJoin", "Exchange"):
            assert op not in plan
        assert "MapInArrow" in plan

    def test_aspect_bucket_no_global_sort(self, spark, entry):
        """Batch ids come from a window PARTITIONED BY bucket — never a
        global (empty-partition-spec) sort; the ladder is a literal
        explode, so no join shuffles at all."""
        plan = executed_plan(entry.q_aspect_bucket(spark, SF))
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan
        # a global window would show an Exchange SinglePartition
        assert "SinglePartition" not in plan

    def test_shuffle_audit_windows_by_shard(self, spark, entry):
        """The lead() pass partitions BY SHARD (the dataloader's unit of
        independence) — no single-partition global order."""
        plan = executed_plan(entry.q_shuffle_audit(spark, SF))
        assert "SinglePartition" not in plan
        assert "CartesianProduct" not in plan
