"""Round-8 second-wave operators: DoReMi reweighting, NSW graph-ANN,
aspect-ratio bucketing, shuffle-order audit."""

import hashlib

import pytest
from pyspark.sql import functions as F


def _md5_u32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


class TestDoremiReweight:
    def test_upweights_hard_domain(self, spark):
        # 'hard' docs are all-distinct rare tokens (high surprisal);
        # 'easy' docs repeat one corpus-dominating token (low surprisal).
        rows = []
        for i in range(10):
            rows.append((i, "hard", f"tok{i}a tok{i}b tok{i}c"))
        for i in range(10, 20):
            rows.append((i, "easy", "the the the"))
        docs = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
        from drune_spark.operators.sampling import doremi_reweight

        out = doremi_reweight(docs, rounds=2).collect()
        assert len(out) == 4  # 2 rounds x 2 sources
        r1 = {r["source"]: r for r in out if r["round"] == 1}
        # Uniform start => every rate is rate_mod => full corpus sampled.
        assert r1["hard"]["n_sampled"] == 10
        assert r1["easy"]["n_sampled"] == 10
        assert r1["hard"]["mean_loss"] > r1["easy"]["mean_loss"]
        assert r1["hard"]["weight_ppm"] > r1["easy"]["weight_ppm"]
        # Renormalization: weights sum to scale up to div truncation.
        for t in (1, 2):
            tot = sum(r["weight_ppm"] for r in out if r["round"] == t)
            assert 1_000_000 - len(r1) < tot <= 1_000_000

    def test_empty_corpus(self, spark):
        docs = spark.createDataFrame(
            [], "doc_id long, source string, text string"
        )
        from drune_spark.operators.sampling import doremi_reweight

        assert doremi_reweight(docs, rounds=2).count() == 0


class TestNswGreedySearch:
    def test_walk_crosses_clusters(self, spark):
        # Seeds 0 ([1,0]) and 1 ([0,1]); cluster A hugs seed 0, cluster
        # B hugs seed 1. Entry = id 0; a query near B must cross the
        # seed-clique edge and settle in cluster B.
        rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
        for i in range(2, 10):
            rows.append((i, [1.0, 0.01 * i]))
        for i in range(10, 18):
            rows.append((i, [0.01 * i, 1.0]))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        from drune_spark.operators.similarity import nsw_greedy_search

        out = {
            r["query_id"]: r
            for r in nsw_greedy_search(
                emb, n_cells=2, m_edges=3, hops=3, query_mod=17
            ).collect()
        }
        assert set(out) == {0, 17}
        # Query 17 = [0.17, 1] lives in cluster B: the walk must have
        # left the entry point and found a B-side node.
        assert out[17]["node"] >= 10 or out[17]["node"] == 1
        assert out[17]["cos_micro"] > 970_000
        # Query 0 IS the entry point: cosine 1.0 (floored micro).
        assert out[0]["cos_micro"] >= 999_999

    def test_empty_input(self, spark):
        emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
        from drune_spark.operators.similarity import nsw_greedy_search

        assert nsw_greedy_search(emb).count() == 0

    def test_driver_path_matches_distributed(self, spark, both_modes):
        """The r10 driver replay (build + walk in numpy with the exact
        fold FP order) must be row-identical to the distributed path
        on the planted two-cluster graph, including the float→double
        cast and the seed-clique crossing."""
        rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
        for i in range(2, 10):
            rows.append((i, [1.0, 0.01 * i]))
        for i in range(10, 18):
            rows.append((i, [0.01 * i, 1.0]))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        from drune_spark.operators.similarity import nsw_greedy_search

        kw = dict(n_cells=2, m_edges=3, hops=3, query_mod=5)
        fast, slow = both_modes(lambda: sorted(map(
            tuple, nsw_greedy_search(emb, **kw).collect())))
        assert fast == slow and len(fast) == 4


class TestAspectRatioBuckets:
    def test_assignment_and_batches(self, spark):
        meta = spark.createDataFrame(
            [
                (1, 512, 512),   # exact square -> bucket (512, 512)
                (2, 640, 448),   # exact -> (640, 448)
                (3, 320, 896),   # exact -> (320, 896)
                (4, 1280, 896),  # 10:7 == 640:448 -> (640, 448)
                (5, 500, 500),   # square, smaller -> (512,512), upscaled
            ],
            "media_id long, width long, height long",
        )
        from drune_spark.operators.multimodal import aspect_ratio_buckets

        out = {
            (r["bucket_w"], r["bucket_h"], r["batch_id"]): r
            for r in aspect_ratio_buckets(meta, batch_size=2).collect()
        }
        sq = out[(512, 512, 0)]
        assert sq["n_imgs"] == 2 and sq["n_upscaled"] == 1
        land = out[(640, 448, 0)]
        assert land["n_imgs"] == 2 and land["n_upscaled"] == 0
        port = out[(320, 896, 0)]
        assert port["n_imgs"] == 1
        assert port["sum_src_pixels"] == 320 * 896

    def test_batch_splitting(self, spark):
        meta = spark.createDataFrame(
            [(i, 512, 512) for i in range(5)],
            "media_id long, width long, height long",
        )
        from drune_spark.operators.multimodal import aspect_ratio_buckets

        out = sorted(
            (r["batch_id"], r["n_imgs"])
            for r in aspect_ratio_buckets(meta, batch_size=2).collect()
        )
        assert out == [(0, 2), (1, 2), (2, 1)]

    def test_duplicate_dims_rejected(self, spark):
        meta = spark.createDataFrame(
            [(1, 512, 512)], "media_id long, width long, height long"
        )
        from drune_spark.operators.multimodal import aspect_ratio_buckets

        with pytest.raises(ValueError, match="must be unique"):
            aspect_ratio_buckets(
                meta, buckets=[(0, 512, 512), (1, 512, 512)]
            )


class TestShuffleAudit:
    def test_matches_python_replay(self, spark):
        rows = [(i, f"s{i % 3}") for i in range(40)]
        docs = spark.createDataFrame(rows, "doc_id long, source string")
        from drune_spark.operators.sampling import shuffle_quality_audit

        got = {
            r["shard"]: r
            for r in shuffle_quality_audit(
                docs, group_col="source", id_col="doc_id", n_shards=4
            ).collect()
        }
        # Exact replay of the hash order in pure python.
        shards = {}
        for i, g in rows:
            sh = _md5_u32(f"sh:{i}") % 4
            shards.setdefault(sh, []).append(
                (hashlib.md5(f"po:{i}".encode()).hexdigest(), i, g)
            )
        for sh, members in shards.items():
            members.sort()
            n = len(members)
            gs = [g for _, _, g in members]
            adj = sum(1 for a, b in zip(gs, gs[1:]) if a == b)
            counts = {}
            for g in gs:
                counts[g] = counts.get(g, 0) + 1
            s_same = sum(c * (c - 1) for c in counts.values())
            p_ppm = s_same * 1_000_000 // max(n * (n - 1), 1)
            row = got[sh]
            assert row["n_docs"] == n
            assert row["n_groups"] == len(counts)
            assert row["adj_same"] == adj
            assert row["observed_runs"] == n - adj
            assert row["p_same_ppm"] == p_ppm
            assert row["expected_runs_e6"] == (
                1_000_000 + (n - 1) * (1_000_000 - p_ppm)
            )

    def test_single_row_shard_guard(self, spark):
        docs = spark.createDataFrame(
            [(1, "a")], "doc_id long, source string"
        )
        from drune_spark.operators.sampling import shuffle_quality_audit

        row = shuffle_quality_audit(docs, n_shards=1).collect()[0]
        assert row["n_docs"] == 1
        assert row["p_same_ppm"] == 0
        assert row["observed_runs"] == 1


class TestBinaryQuantizeRerank:
    def test_planted_hamming_and_rerank(self, spark):
        rows = [
            (0, [1.0, 1.0, 1.0, 1.0]),    # query
            (1, [1.0, 1.0, 1.0, -1.0]),   # hamming 1, cos 0.5
            (2, [-1.0, -1.0, -1.0, -1.0]),  # hamming 4, cos -1
            (3, [1.0, 1.0, -1.0, -1.0]),  # hamming 2, cos 0
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        from drune_spark.operators.embeddings import binary_quantize_rerank

        q = emb.filter("vec_id = 0").withColumnRenamed("vec_id", "query_id")
        out = binary_quantize_rerank(
            emb, q, k=2, shortlist=2, dim=4
        ).collect()
        assert len(out) == 2
        by_rank = {r["rank"]: r for r in out}
        # shortlist of 2 by hamming = {1 (h=1), 3 (h=2)}; rerank by cos
        assert by_rank[1]["neighbor_id"] == 1
        assert by_rank[1]["hamming"] == 1
        assert by_rank[1]["cos_micro"] == 500_000
        assert by_rank[2]["neighbor_id"] == 3
        assert by_rank[2]["cos_micro"] == 0

    def test_high_dims_pack_into_two_halves(self, spark):
        # bit 63 (dim index 63) must land in the hi word without any
        # 1<<63 overflow; two opposite sign patterns -> hamming = dim.
        a = [1.0] * 64
        b = [-1.0] * 64
        emb = spark.createDataFrame(
            [(0, a), (1, b)], "vec_id long, embedding array<float>"
        )
        from drune_spark.operators.embeddings import binary_quantize_rerank

        q = emb.filter("vec_id = 0").withColumnRenamed("vec_id", "query_id")
        out = binary_quantize_rerank(emb, q, k=1, shortlist=5, dim=64).collect()
        assert out[0]["hamming"] == 64


class TestHardNegativeMine:
    def test_flags_semantically_far_hits(self, spark):
        docs = spark.createDataFrame(
            [
                (0, "foo foo foo"),      # positive: highest tf density
                (1, "foo pad"),          # close embedding -> easy
                (2, "foo pad pad"),      # far embedding -> hard
            ],
            "doc_id long, text string",
        )
        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.0]),
                (1, [1.0, 0.01]),
                (2, [-1.0, 0.0]),
            ],
            "vec_id long, embedding array<float>",
        )
        from drune_spark.operators.search import hard_negative_mine

        out = {
            r["doc_id"]: r
            for r in hard_negative_mine(
                docs, emb, [("q", ["foo"])], k=10,
                cos_thresh_micro=250_000,
            ).collect()
        }
        assert set(out) == {1, 2}  # positive (doc 0) excluded
        assert out[1]["is_hard"] == 0
        assert out[2]["is_hard"] == 1
        assert out[2]["cos_to_pos_micro"] == -1_000_000


class TestDomainMixStep:
    def test_resample_keeps_hard_domain_whole(self, spark):
        rows = []
        for i in range(12):
            rows.append((i, "hard", f"tok{i}a tok{i}b tok{i}c"))
        for i in range(12, 24):
            rows.append((i, "easy", "the the the"))
        docs = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
        import drune_spark.operators.llm_steps as llm_steps

        step = llm_steps.DomainMixStep(spark, "mix")
        out = step.execute({}, docs, rounds=1, eta_denom=512)
        got = {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        # hard domain has max weight -> rate == rate_mod -> all kept
        assert got.get("hard") == 12
        assert got.get("easy", 0) <= 12
        # output rows are a subset of the input
        assert out.join(docs, "doc_id", "left_anti").count() == 0

    def test_dim_over_64_rejected(self, spark):
        emb = spark.createDataFrame(
            [(0, [1.0] * 128)], "vec_id long, embedding array<float>"
        )
        from drune_spark.operators.embeddings import binary_quantize_rerank

        with pytest.raises(ValueError, match="64 dims"):
            binary_quantize_rerank(emb, emb.withColumnRenamed(
                "vec_id", "query_id"), dim=128)


class TestDomainMixGuards:
    def test_zero_rounds_rejected(self, spark):
        docs = spark.createDataFrame(
            [(1, "a", "x y z")], "doc_id long, source string, text string"
        )
        import drune_spark.operators.llm_steps as llm_steps

        with pytest.raises(ValueError, match="rounds"):
            llm_steps.DomainMixStep(spark, "mix").execute(
                {}, docs, rounds=0
            )


class TestSimilarityPack:
    def test_packs_cells_in_cohesion_order(self, spark):
        # Seeds 0 ([1,0]) and 1 ([0,1]); two docs per cell with known
        # token counts; budget forces one boundary inside cell 0.
        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.0]), (1, [0.0, 1.0]),
                (2, [1.0, 0.1]), (3, [1.0, 0.2]),
                (4, [0.1, 1.0]),
            ],
            "vec_id long, embedding array<float>",
        )
        docs = spark.createDataFrame(
            [
                (0, "a b c"),        # 3 tokens, cell 0, cos 1.0
                (1, "d e"),          # 2 tokens, cell 1, cos 1.0
                (2, "f g h i"),      # 4 tokens, cell 0
                (3, "j k"),          # 2 tokens, cell 0
                (4, "l"),            # 1 token,  cell 1
            ],
            "doc_id long, text string",
        )
        from drune_spark.operators.packing import similarity_pack

        out = {
            (r["cell"], r["seq_id"]): r
            for r in similarity_pack(
                docs, emb, n_cells=2, budget=6
            ).collect()
        }
        # Cell 0 order: doc 0 (cos 1.0, 3 toks), doc 2 (cos .995, 4),
        # doc 3 (cos .980, 2). Boundaries at tokens-before div 6:
        # doc0 before=0 -> seq 0; doc2 before=3 -> seq 0; doc3
        # before=7 -> seq 1.
        assert out[(0, 0)]["n_docs"] == 2
        assert out[(0, 0)]["sum_tokens"] == 7
        assert out[(0, 1)]["n_docs"] == 1
        assert out[(0, 1)]["sum_tokens"] == 2
        # Cell 1: both docs fit one sequence (3 tokens total).
        assert out[(1, 0)]["n_docs"] == 2
        assert out[(1, 0)]["sum_tokens"] == 3
        # Cohesion band is ordered: min <= max, max = 10^6 for the
        # seed's own sequence.
        assert out[(0, 0)]["cos_max_micro"] >= 999_999

    def test_budget_guard(self, spark):
        emb = spark.createDataFrame(
            [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
        )
        docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
        from drune_spark.operators.packing import similarity_pack

        with pytest.raises(ValueError, match="budget"):
            similarity_pack(docs, emb, n_cells=1, budget=0)
