"""Scale-path helpers: salted joins, bucketed co-located joins,
approximate distincts, connected components."""

import pytest
from pyspark.sql import functions as F

from drune_spark.functions.partitioning import fan_out, salted_join


class TestSaltedJoin:
    def test_equals_plain_join(self, spark):
        # Skewed fact: 90% of rows share one key.
        fact = spark.createDataFrame(
            [(1 if i < 90 else i, i) for i in range(100)], ["k", "v"]
        )
        dim = spark.createDataFrame(
            [(i, f"d{i}") for i in range(100)], ["k", "name"]
        )
        plain = {(r.k, r.v, r.name) for r in fact.join(dim, "k").collect()}
        salted = {(r.k, r.v, r.name)
                  for r in salted_join(fact, dim, "k", num_salts=4).collect()}
        assert salted == plain and len(plain) == 90 + 10

    def test_left_join_keeps_unmatched(self, spark):
        fact = spark.createDataFrame([(1, "a"), (99, "b")], ["k", "v"])
        dim = spark.createDataFrame([(1, "d1")], ["k", "name"])
        out = salted_join(fact, dim, "k", num_salts=3, how="left").collect()
        rows = {(r.k, r.name) for r in out}
        assert rows == {(1, "d1"), (99, None)}


class TestBucketedJoin:
    def test_cobucketed_join_skips_shuffle(self, spark, tmp_path):
        from drune_spark.config.models import SchemaSpec, TargetSpec
        from drune_spark.sinks.writers import write_target

        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        for name, df, key in [("b_orders", orders, "o_orderkey"),
                              ("b_lineitem", lineitem, "l_orderkey")]:
            write_target(spark, df, TargetSpec(
                name=name, type="table", table_name=name, format="parquet",
                schema=SchemaSpec(bucket_by=[key], num_buckets=4),
            ))
        # Disable broadcast + AQE so a shuffle-free plan can only come
        # from the bucketed layout, not a broadcast rescue.
        prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            joined = spark.table("b_lineitem").join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            # Co-bucketed on the join key: sort-merge join with no
            # shuffle exchange on either side.
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan
            assert joined.count() == lineitem.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.sql("DROP TABLE b_orders")
        spark.sql("DROP TABLE b_lineitem")


class TestBloomPruneJoin:
    def test_equals_plain_semi_join(self, spark):
        from drune_spark.operators.bloom import bloom_prune_semi_join
        big = spark.range(0, 5000).select(
            F.concat(F.lit("k"), F.col("id")).alias("key"),
            (F.col("id") * 3).alias("v"),
        )
        keys = spark.range(0, 5000, 13).select(
            F.concat(F.lit("k"), F.col("id")).alias("key")
        )
        got = {(r.key, r.v) for r in
               bloom_prune_semi_join(big, keys, "key").collect()}
        want = {(r.key, r.v) for r in
                big.join(keys, "key", "left_semi").collect()}
        assert got == want and len(want) == len(range(0, 5000, 13))

    def test_false_positives_are_removed(self, spark):
        # Tiny bitmap -> many bloom false positives; the semi-join must
        # still return the exact match set.
        from drune_spark.operators.bloom import (
            bloom_prune_semi_join, build_bloom_map, bloom_might_contain)
        big = spark.range(0, 2000).select(F.col("id").alias("key"))
        keys = spark.range(0, 2000, 100).select(F.col("id").alias("key"))
        n_bits, n_hashes = 128, 2
        bloom = build_bloom_map(keys, "key", n_bits, n_hashes)
        survivors = (big.crossJoin(F.broadcast(bloom))
                     .filter(bloom_might_contain(F.col("key"), n_bits,
                                                 n_hashes)).count())
        assert survivors > 20  # the tiny filter really does leak FPs
        exact = bloom_prune_semi_join(big, keys, "key",
                                      n_bits=n_bits, n_hashes=n_hashes)
        assert sorted(r.key for r in exact.collect()) == \
            list(range(0, 2000, 100))

    def test_no_false_negatives_at_default_size(self, spark):
        from drune_spark.operators.bloom import (
            build_bloom_map, bloom_might_contain)
        keys = spark.range(0, 10000).select(
            F.concat(F.lit("doc"), F.col("id")).alias("key"))
        bloom = build_bloom_map(keys, "key")
        kept = (keys.crossJoin(F.broadcast(bloom))
                .filter(bloom_might_contain(F.col("key"))).count())
        assert kept == 10000  # every true key passes its own filter

    def test_probe_is_scan_side_filter(self, spark):
        # The bloom membership test must run as a Filter BEFORE the
        # semi-join (that is the point: candidates only cross the
        # shuffle), visible as xxhash64 bit tests under the join.
        from drune_spark.operators.bloom import bloom_prune_semi_join
        big = spark.range(0, 1000).select(F.col("id").alias("key"))
        keys = spark.range(0, 1000, 7).select(F.col("id").alias("key"))
        df = bloom_prune_semi_join(big, keys, "key")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "xxhash64" in plan and "Join LeftSemi" in plan or \
            "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


class TestFanOut:
    def test_shuffled_frame_runs_no_job(self, spark):
        """An input that already shuffles is returned as is, decided
        from the plan: probing its RDD would execute the AQE stages."""
        sc = spark.sparkContext
        df = spark.range(0, 100).groupBy((F.col("id") % 7).alias("k")) \
            .count()
        group = "fan_out_shuffled_probe"
        sc.setJobGroup(group, group)
        try:
            out = fan_out(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert out is df

    def test_single_split_scan_is_widened(self, spark):
        df = spark.range(0, 100, numPartitions=1)
        out = fan_out(df, min_partitions=4)
        assert out.rdd.getNumPartitions() == 4


class TestStratifiedSample:
    def test_per_group_fractions_and_determinism(self, spark):
        from drune_spark.operators.sampling import (
            sample_by_hash, stratified_sample)
        df = spark.range(0, 3000).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 3 == 0, "a")
             .when(F.col("id") % 3 == 1, "b")
             .otherwise("c").alias("g"),
        )
        out = stratified_sample(df, "g", "k", {"a": 0.8, "b": 0.1},
                                default_fraction=0.4)
        counts = {r.g: r.n for r in
                  out.groupBy("g").agg(F.count("*").alias("n")).collect()}
        assert abs(counts["a"] / 1000 - 0.8) < 0.1
        assert abs(counts["b"] / 1000 - 0.1) < 0.06
        assert abs(counts["c"] / 1000 - 0.4) < 0.1
        # group-restricted equality with the global sampler: same key,
        # same salt, same fraction -> identical membership
        only_a = {r.k for r in out.filter("g = 'a'").collect()}
        global_a = {r.k for r in
                    sample_by_hash(df.filter("g = 'a'"), "k", 0.8).collect()}
        assert only_a == global_a
        # rerun is identical
        again = {(r.k, r.g) for r in stratified_sample(
            df, "g", "k", {"a": 0.8, "b": 0.1}, 0.4).collect()}
        assert again == {(r.k, r.g) for r in out.collect()}

    def test_no_shuffle(self, spark):
        from drune_spark.operators.sampling import stratified_sample
        df = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit("g").alias("g"))
        out = stratified_sample(df, "g", "k", {"g": 0.5})
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestKeySkewProfile:
    def test_counts_and_ppm(self, spark):
        from drune_spark.functions.partitioning import key_skew_profile
        # 60 rows of key 'hot', 4 singletons
        rows = [("hot",)] * 60 + [(f"k{i}",) for i in range(4)]
        df = spark.createDataFrame(rows, ["k"])
        out = key_skew_profile(df, "k", k=3).collect()
        assert out[0].k == "hot" and out[0].n == 60
        assert out[0].ppm == 60 * 1_000_000 // 64
        assert len(out) == 3
        # deterministic tie-break: singleton keys ordered by key
        assert [r.k for r in out[1:]] == ["k0", "k1"]


class TestCdcLatest:
    def test_later_wins_and_tombstones(self, spark):
        from drune_spark.operators.cdc import cdc_latest
        changes = spark.createDataFrame(
            [
                ("k1", 1, 1, "upsert", 10),
                ("k1", 2, 2, "upsert", 20),   # later wins
                ("k2", 1, 3, "upsert", 30),
                ("k2", 5, 4, "delete", 0),    # tombstoned
                ("k3", 7, 5, "upsert", 70),
                ("k3", 7, 6, "upsert", 71),   # same ts: unique id breaks tie
            ],
            ["k", "ts", "change_id", "op", "v"],
        )
        out = {(r.k, r.v) for r in cdc_latest(
            changes, ["k"], ["ts", "change_id"], "op", ("delete",)
        ).collect()}
        assert out == {("k1", 20), ("k3", 71)}

    def test_no_op_col_keeps_all_latest(self, spark):
        from drune_spark.operators.cdc import cdc_latest
        changes = spark.createDataFrame(
            [("a", 1, 1), ("a", 2, 9), ("b", 1, 5)], ["k", "ts", "v"])
        out = {(r.k, r.v) for r in
               cdc_latest(changes, ["k"], ["ts"]).collect()}
        assert out == {("a", 9), ("b", 5)}


class TestRrfFuse:
    def test_integer_rrf_ranks(self, spark):
        from drune_spark.operators.search import rrf_fuse
        a = spark.createDataFrame(
            [(0, 10, 1), (0, 11, 2), (0, 12, 3)], ["qid", "doc_id", "rank"])
        b = spark.createDataFrame(
            [(0, 11, 1), (0, 10, 2), (0, 13, 3)], ["qid", "doc_id", "rank"])
        out = {r.doc_id: (r.rrf_milli, r.fused_rank)
               for r in rrf_fuse([a, b], k_rrf=60, out_k=4).collect()}
        # doc 10: 10^6//61 + 10^6//62 ; doc 11: same sums reversed -> tie
        assert out[10][0] == 1000000 // 61 + 1000000 // 62
        assert out[11][0] == out[10][0]
        # tie broken by doc_id: 10 before 11
        assert out[10][1] == 1 and out[11][1] == 2
        assert out[12][0] == 1000000 // 63 and out[13][0] == 1000000 // 63
        assert out[12][1] == 3 and out[13][1] == 4

    def test_out_k_limits_per_query(self, spark):
        from drune_spark.operators.search import rrf_fuse
        rows = [(q, d, d + 1) for q in (0, 1) for d in range(10)]
        lst = spark.createDataFrame(rows, ["qid", "doc_id", "rank"])
        out = rrf_fuse([lst], out_k=3).groupBy("qid").count().collect()
        assert {r["count"] for r in out} == {3}


class TestEquidepthBins:
    def test_near_equal_populations(self, spark):
        from drune_spark.operators.stats import equidepth_bins
        df = spark.range(0, 1000).select(
            F.lit("g").alias("g"), (F.col("id") * 7 % 1000)
            .cast("double").alias("v"))
        out = {r.bin: r.n for r in
               equidepth_bins(df, "v", ["g"], n_bins=10).collect()}
        assert set(out) == set(range(10))
        assert all(90 <= n <= 110 for n in out.values())

    def test_no_sort_of_rows(self, spark):
        # boundaries-then-assign must not globally sort the data the
        # way NTILE would (percentile agg sorts within the aggregate
        # buffer, not as a plan-level Sort of the joined rows)
        from drune_spark.operators.stats import equidepth_bins
        df = spark.range(0, 1000).select(
            F.lit("g").alias("g"), F.col("id").cast("double").alias("v"))
        plan = equidepth_bins(df, "v", ["g"])._jdf \
            .queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan


class TestTableDiff:
    def test_added_removed_changed(self, spark):
        from drune_spark.operators.diff import table_diff
        left = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
            ["k", "s", "v"])
        right = spark.createDataFrame(
            [(2, "b", 20), (3, "CHANGED", 30), (4, None, 40), (5, "e", 50)],
            ["k", "s", "v"])
        out = {(r.k, r.change_type) for r in
               table_diff(left, right, ["k"]).collect()}
        assert out == {(1, "removed"), (3, "changed"), (5, "added")}
        # keys 2 and 4 (identical, incl. the NULL) emit nothing

    def test_null_vs_empty_string_differ(self, spark):
        from drune_spark.operators.diff import table_diff
        left = spark.createDataFrame([(1, None)], "k int, s string")
        right = spark.createDataFrame([(1, "")], "k int, s string")
        out = table_diff(left, right, ["k"]).collect()
        assert [(r.k, r.change_type) for r in out] == [(1, "changed")]

    def test_fingerprints_shuffle_not_payload(self, spark):
        # The full-outer join input projections must be (key, md5) —
        # payload columns pruned before the Exchange.
        from drune_spark.operators.diff import table_diff
        left = spark.range(100).select(
            F.col("id").alias("k"), F.lit("x").alias("payload"))
        right = spark.range(50).select(
            F.col("id").alias("k"), F.lit("y").alias("payload"))
        plan = table_diff(left, right, ["k"])._jdf \
            .queryExecution().executedPlan().toString()
        assert "md5" in plan and "payload" not in plan.split("Join")[0] \
            or "payload" not in plan[plan.find("Exchange"):]


class TestApproxDistinct:
    def test_approx_count_distinct_close_to_exact(self, spark):
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        row = li.agg(
            F.countDistinct("l_partkey").alias("exact"),
            F.approx_count_distinct("l_partkey", rsd=0.05).alias("approx"),
        ).collect()[0]
        assert abs(row.approx - row.exact) / row.exact < 0.15


class TestConnectedComponents:
    def test_chain_and_singleton(self, spark):
        from drune_spark.operators.dedup import connected_components
        # 1-2-3 chained, 4-5 pair, 6 singleton
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"]
        )
        nodes = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
        out = {r.doc_id: r.cluster_id
               for r in connected_components(pairs, nodes).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


class TestZorderLayout:
    def test_interleave_matches_reference_morton(self, spark):
        """Identity normalization (values already span [0, 2^bits)):
        zval must equal the textbook Morton code."""
        from drune_spark.operators.layout import zorder_column
        pts = [(x, y) for x in range(4) for y in range(4)]
        df = spark.createDataFrame(pts, "x long, y long")
        got = {(r.x, r.y): r.zval
               for r in zorder_column(df, ["x", "y"], bits=2).collect()}

        def morton(x, y):
            z = 0
            for j in range(2):
                z |= ((x >> j) & 1) << (2 * j)
                z |= ((y >> j) & 1) << (2 * j + 1)
            return z

        assert got == {(x, y): morton(x, y) for x, y in pts}
        assert sorted(got.values()) == list(range(16))

    def test_constant_column_normalizes_to_zero(self, spark):
        from drune_spark.operators.layout import zorder_column
        df = spark.createDataFrame(
            [(i, 7) for i in range(8)], "x long, c long"
        )
        rows = zorder_column(df, ["c", "x"], bits=3).collect()
        # c contributes nothing; z is x's bits spread to odd positions
        for r in rows:
            assert r.zval == sum(
                ((r.x >> j) & 1) << (2 * j + 1) for j in range(3)
            )

    def test_zorder_write_narrows_both_file_spans(self, spark, tmp_path):
        """The layout claim itself: on a 64x64 grid split into 16
        files, sorting by x alone leaves every file spanning ALL of y;
        z-ordering bounds the per-file span of BOTH dimensions."""
        from drune_spark.operators.layout import file_spans, zorder_write
        grid = spark.createDataFrame(
            [(x, y) for x in range(64) for y in range(64)],
            "x long, y long",
        )
        zpath = str(tmp_path / "zorder")
        xpath = str(tmp_path / "xsort")
        zorder_write(grid, ["x", "y"], zpath, n_files=16, bits=6)
        (grid.repartitionByRange(16, "x").sortWithinPartitions("x")
             .write.mode("overwrite").parquet(xpath))

        def avg_span(path, col):
            sp = file_spans(spark, path, ["x", "y"]).collect()
            return sum(r[f"max_{col}"] - r[f"min_{col}"] for r in sp) / len(sp)

        # x-sorted: y is unclustered — every file spans ~the full 0..63
        assert avg_span(xpath, "y") > 55
        # z-ordered: both dimensions bounded (16 z-contiguous files of
        # a 64x64 grid => each file covers about a quarter-row strip)
        assert avg_span(zpath, "y") < 35
        assert avg_span(zpath, "x") < 35
        # and the data itself round-trips
        assert spark.read.parquet(zpath).count() == 64 * 64


class TestCompaction:
    def test_compacts_small_files_preserving_rows(self, spark, tmp_path):
        from drune_spark.operators.layout import compact_parquet
        src = str(tmp_path / "small")
        dst = str(tmp_path / "compact")
        (spark.range(1000).repartition(50)
             .write.mode("overwrite").parquet(src))
        n_src_files = (spark.read.parquet(src)
                       .select(F.input_file_name()).distinct().count())
        assert n_src_files == 50
        n_files = compact_parquet(spark, src, dst, target_rows_per_file=300)
        assert n_files == 4  # ceil(1000/300)
        assert spark.read.parquet(dst).count() == 1000

    def test_compaction_with_sort_restores_clustering(
        self, spark, tmp_path
    ):
        from drune_spark.operators.layout import compact_parquet, file_spans
        src = str(tmp_path / "shuffled")
        dst = str(tmp_path / "clustered")
        (spark.range(1000).select(
            (F.col("id") * 7919 % 1000).alias("k"))
            .repartition(20).write.mode("overwrite").parquet(src))
        compact_parquet(spark, src, dst, 250, sort_cols=["k"])
        spans = file_spans(spark, dst, ["k"]).collect()
        avg = sum(r.max_k - r.min_k for r in spans) / len(spans)
        assert avg < 400  # clustered: ~250-wide windows, not ~1000


class TestJoinCardinalityProfile:
    def test_hand_computed_profile(self, spark):
        from drune_spark.functions.partitioning import (
            join_cardinality_profile,
        )

        left = spark.createDataFrame(
            [(1,)] * 4 + [(2,)] * 2 + [(3,)] * 1, ["k"]
        )
        right = spark.createDataFrame(
            [(1,)] * 3 + [(2,)] * 5 + [(9,)] * 7, ["k"]
        )
        out = [(r.key, r.n_left, r.n_right, r.out_rows, r.share_ppm)
               for r in join_cardinality_profile(
                   left, right, "k", "k", k=5).collect()]
        # key 1: 4*3=12; key 2: 2*5=10; key 9 unmatched; total 22
        assert out == [
            (1, 4, 3, 12, 12 * 1_000_000 // 22),
            (2, 2, 5, 10, 10 * 1_000_000 // 22),
        ]

    def test_top_k_bound(self, spark):
        from drune_spark.functions.partitioning import (
            join_cardinality_profile,
        )

        rows = [(i,) for i in range(20) for _ in range(i + 1)]
        df = spark.createDataFrame(rows, ["k"])
        assert join_cardinality_profile(df, df, "k", "k", k=3).count() == 3


class TestRendezvous:
    def test_minimal_remap_on_shard_removal(self, spark):
        """THE rendezvous property: going 8 → 7 shards moves exactly the
        keys whose argmax was the removed shard (s=7); every other key
        keeps its assignment. Mod-hashing would remap ~7/8 of keys."""
        from drune_spark.functions.partitioning import rendezvous_assign

        df = spark.range(0, 500).withColumnRenamed("id", "k")
        a8 = {r.key: r.shard
              for r in rendezvous_assign(df, "k", n_shards=8).collect()}
        a7 = {r.key: r.shard
              for r in rendezvous_assign(df, "k", n_shards=7).collect()}
        moved = {k for k in a8 if a7[k] != a8[k]}
        was_on_7 = {k for k, s in a8.items() if s == 7}
        assert moved == was_on_7
        assert 0 < len(was_on_7) < 150  # ~1/8 of 500

    def test_report_covers_all_keys(self, spark):
        from drune_spark.functions.partitioning import rendezvous_shards

        df = spark.range(0, 400).withColumnRenamed("id", "k")
        rows = rendezvous_shards(df, "k", n_shards=8).collect()
        assert sum(r.n_keys for r in rows) == 400
        assert len(rows) == 8
