"""The replay module: the bounded collect, the decision records and the
``distributed()`` switch, plus the edge cases where the two execution
modes used to disagree (empty inputs, NULL ids, a corpus that runs out
of pairs), and a differential of every replay, graph and non-graph,
against its distributed path."""

import logging

import pytest
from pyspark.sql import functions as F

from drune_spark.operators import replay


@pytest.fixture()
def records(caplog):
    """The replay decision records logged during the test."""
    caplog.set_level(logging.DEBUG, logger=replay.log.name)
    return lambda: [r for r in caplog.records if r.name == replay.log.name]


def _empty_cases(spark):
    from drune_spark.operators.bpe import bpe_train, wordpiece_train
    from drune_spark.operators.dedup import (
        connected_components,
        containment_pairs,
        ngram_jaccard_pairs,
    )
    from drune_spark.operators.graph import anf_reach, hits_int, k_truss
    from drune_spark.operators.similarity import nsw_greedy_search

    edges = spark.createDataFrame([], "src bigint, dst bigint")
    docs = spark.createDataFrame([], "doc_id bigint, text string")
    return {
        "connected_components": lambda: connected_components(
            spark.createDataFrame([], "id_a bigint, id_b bigint"),
            spark.createDataFrame([], "doc_id bigint")),
        "k_truss": lambda: k_truss(edges),
        "anf_reach": lambda: anf_reach(edges),
        "hits_int": lambda: hits_int(
            spark.createDataFrame([], "src bigint, dst bigint, w bigint")),
        "bpe_train": lambda: bpe_train(
            spark.createDataFrame([], "text string")),
        "wordpiece_train": lambda: wordpiece_train(
            spark.createDataFrame([], "text string")),
        "ngram_jaccard_pairs": lambda: ngram_jaccard_pairs(
            docs, "text", "doc_id"),
        "containment_pairs": lambda: containment_pairs(
            docs, "text", "doc_id"),
        "nsw_greedy_search": lambda: nsw_greedy_search(
            spark.createDataFrame(
                [], "vec_id bigint, embedding array<double>")),
    }


class TestReplaySwitch:
    def test_forced_empty_inputs_run_distributed(self, spark, records):
        """Under distributed() an empty input takes the distributed
        path: each gate logs a distributed decision and no replay."""
        for op, build in _empty_cases(spark).items():
            with replay.distributed():
                build().collect()
            mine = [r for r in records() if r.op == op]
            assert mine, op
            assert all(r.path == "distributed" for r in mine), op
            assert any(r.reason == "forced" for r in mine), op

    def test_kcore_records(self, spark, records):
        """One record per decision: a small graph replays (with its
        size and the cutoff), a NULL id declines with a named reason,
        and distributed() shows the distributed path."""
        from drune_spark.operators.graph import kcore

        sym = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)]
        edges = spark.createDataFrame(sym, "src bigint, dst bigint")
        kcore(edges, k=2).collect()
        got = records()
        assert [(r.op, r.path, r.size, r.cutoff) for r in got] == [
            ("kcore", "replay", 6, replay.CUTOFFS["kcore"])]

        with_null = spark.createDataFrame(
            sym + [(None, 1)], "src bigint, dst bigint")
        kcore(with_null, k=2).collect()
        last = records()[-1]
        assert (last.op, last.path, last.reason) == (
            "kcore", "distributed", "null_id")

        with replay.distributed():
            kcore(edges, k=2).collect()
        last = records()[-1]
        assert (last.op, last.path, last.reason) == (
            "kcore", "distributed", "forced")


class TestBoundedCollect:
    def test_releases_its_own_persist(self, spark):
        df = spark.range(5).selectExpr("id * 3 AS x")
        tbl = replay.collect("kcore", df)
        assert tbl.column("x").to_pylist() == [0, 3, 6, 9, 12]
        assert not df.storageLevel.useMemory

    def test_keeps_the_callers_cache(self, spark):
        df = spark.range(5).selectExpr("id + 1 AS x").persist()
        try:
            tbl = replay.collect("kcore", df)
            assert tbl.num_rows == 5
            assert df.storageLevel.useMemory
        finally:
            df.unpersist()

    def test_above_cutoff_counts_all_frames(
        self, spark, records, monkeypatch
    ):
        monkeypatch.setitem(replay.CUTOFFS, "bfs_khop", 6)
        a, b = spark.range(4), spark.range(3)
        assert replay.collect("bfs_khop", a, b) is None
        assert not a.storageLevel.useMemory
        assert not b.storageLevel.useMemory
        last = records()[-1]
        assert (last.path, last.reason, last.size) == (
            "distributed", "above_cutoff", 7)
        ta, tb = replay.collect("bfs_khop", a, spark.range(2))
        assert (ta.num_rows, tb.num_rows) == (4, 2)


class TestModeEdgeCases:
    def test_anf_reach_empty_edges(self, spark, both_modes):
        """The distributed path's observed reach mass over zero rows is
        NULL; it returns the replay's zero rows instead of raising."""
        from drune_spark.operators.graph import anf_reach

        edges = spark.createDataFrame([], "src bigint, dst bigint")
        fast, slow = both_modes(lambda: sorted(
            map(tuple, anf_reach(edges, trials=2, rounds=2).collect())))
        assert fast == slow == [(0, 0, 0), (1, 0, 0), (2, 0, 0)]

    def test_hits_int_needs_an_iteration(self, spark, both_modes, jobs_in):
        """n_iters=0 raises in both modes before any Spark job."""
        from drune_spark.operators.graph import hits_int

        edges = spark.createDataFrame(
            [(1, 2, 1), (2, 3, 1)], "src bigint, dst bigint, w bigint")

        def build():
            with pytest.raises(ValueError, match="n_iters >= 1"):
                hits_int(edges, n_iters=0)
            return True

        out, jobs = jobs_in("hits_zero", lambda: both_modes(build))
        assert out == (True, True)
        assert jobs == []

    @pytest.mark.parametrize("id_type", ["smallint", "date"])
    def test_hits_int_empty_other_id_types(self, spark, both_modes, id_type):
        """Ids outside replay.ID_TYPES run distributed in both modes; an
        empty edge list returns no rows with ``node`` typed as its ids."""
        from drune_spark.operators.graph import hits_int

        edges = spark.createDataFrame(
            [], f"src {id_type}, dst {id_type}, w bigint")
        fast, slow = both_modes(lambda: _outcome(hits_int(edges)))
        assert fast == slow
        assert fast == ([("node", id_type), ("kind", "string"),
                         ("score_int", "bigint")], [])

    @pytest.mark.parametrize("trainer", ["bpe_train", "wordpiece_train"])
    def test_trainers_stop_when_pairs_run_out(
        self, spark, both_modes, trainer
    ):
        """A corpus with fewer merges to learn than n_merges returns the
        merges learned so far on both paths; an empty corpus returns
        none."""
        from drune_spark.operators import bpe

        train = getattr(bpe, trainer)
        corpus = spark.createDataFrame([("ab ab",), ("a",)], ["text"])
        fast, slow = both_modes(lambda: sorted(
            map(tuple, train(corpus, n_merges=3).collect())))
        assert fast == slow
        assert [(r[0], r[1], r[2], r[3]) for r in fast] == [
            (1, "a b", "ab", 2)]
        empty = spark.createDataFrame([], "text string")
        fast, slow = both_modes(
            lambda: train(empty, n_merges=3).collect())
        assert fast == slow == []


    def test_label_propagation_rejects_string_ids(
        self, spark, both_modes, jobs_in
    ):
        """Non-numeric string ids (a 3-node path plus a pair) raise
        TypeError naming the column in both modes before any Spark
        job; the distributed loop used to fail partway with
        CAST_INVALID_INPUT at ``K - 1 - label``."""
        from drune_spark.operators.graph import label_propagation

        pairs = [(1, 2), (2, 3), (10, 11)]
        sym = [(f"n{a}", f"n{b}") for a, b in pairs]
        edges = spark.createDataFrame(
            sym + [(b, a) for a, b in sym], "src string, dst string")

        def build():
            with pytest.raises(TypeError, match="src is string"):
                label_propagation(edges, rounds=2)
            return True

        out, jobs = jobs_in("lpa_string", lambda: both_modes(build))
        assert out == (True, True)
        assert jobs == []

    @pytest.mark.parametrize("op", ["ivf_train", "nsw_greedy_search"])
    def test_vector_ops_reject_string_ids(
        self, spark, both_modes, jobs_in, op
    ):
        """The vector operators raise TypeError naming the id column
        in both modes before any Spark job; their distributed paths
        used to fail deep in the run (``int()`` on the seeds,
        CAST_INVALID_INPUT in the NSW walk)."""
        from drune_spark.operators import kmeans, similarity

        run = {"ivf_train": kmeans.ivf_train,
               "nsw_greedy_search": similarity.nsw_greedy_search}[op]
        vecs = spark.createDataFrame(
            [(f"v{i}", [1.0, float(i)]) for i in range(4)],
            "vec_id string, embedding array<double>")

        def build():
            with pytest.raises(TypeError, match="vec_id is string"):
                run(vecs)
            return True

        out, jobs = jobs_in(op, lambda: both_modes(build))
        assert out == (True, True)
        assert jobs == []


class TestHandOff:
    """A replay's result frame holds the Arrow table it was built from,
    and connected_components reads a held ``pairs`` table directly."""

    EDGE_SCHEMA = "a int, b bigint, s string, d double"
    EDGE_ROWS = [
        (1, 2**63 - 1, 'say "hi"', 1.5),
        (None, -2**63, "back\\slash\nnew line", None),
        (-7, None, None, float("inf")),
        (0, 0, "it's", -0.0),
    ]

    @staticmethod
    def _builders(spark):
        import datetime

        import numpy as np

        from drune_spark.operators.bpe import bpe_train
        from drune_spark.operators.dedup import (
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )
        from drune_spark.operators.graph import kcore

        docs = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u"),
             (4, "a b c d e f")], "doc_id bigint, text string")
        sym = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)]
        return {
            "frame": lambda: replay.frame(
                spark, TestHandOff.EDGE_ROWS, TestHandOff.EDGE_SCHEMA),
            "frame_empty": lambda: replay.frame(
                spark, [], TestHandOff.EDGE_SCHEMA),
            "frame_date": lambda: replay.frame(
                spark, [(1, datetime.date(2020, 1, 2)), (None, None)],
                "a smallint, d date"),
            "replay_frame": lambda: replay.frame(
                spark, {"id_a": np.array(['q"1', "c\n3"], dtype=object),
                        "id_b": np.array(["b\\2", "b\\2"], dtype=object),
                        "n": np.array([2**63 - 1, -2**63]),
                        "x": [0.1, 2.0]},
                "id_a string, id_b string, n bigint, x double"),
            "frame_arrow": lambda: replay.frame(
                spark, {"a": np.arange(replay.LITERAL_ROWS + 1),
                        "s": [None, "x"] * (replay.LITERAL_ROWS // 2)
                        + ["y"]},
                "a int, s string"),
            "minhash_lsh_pairs": lambda: minhash_lsh_pairs(
                docs, "text", "doc_id", min_est_jaccard=0.1),
            "ngram_jaccard_pairs": lambda: ngram_jaccard_pairs(
                docs, "text", "doc_id", k=2, threshold=0.1),
            "kcore": lambda: kcore(
                spark.createDataFrame(sym, "src bigint, dst bigint"), k=2),
            "bpe_train": lambda: bpe_train(docs.select("text"), n_merges=2),
        }

    @pytest.mark.parametrize("builder", [
        "frame", "frame_empty", "frame_date", "replay_frame",
        "frame_arrow", "minhash_lsh_pairs", "ngram_jaccard_pairs", "kcore", "bpe_train"])
    def test_held_table_is_the_fetched_table(self, spark, builder):
        """Each builder's held table equals ``toArrow()`` of its frame
        in schema and values: NULLs, int64 bounds, strings with quotes,
        backslashes and newlines, doubles, smallints and dates."""
        df = self._builders(spark)[builder]()
        held, fetched = replay.held(df), df.toArrow()
        assert held is not None
        assert held.schema == fetched.schema
        assert held.equals(fetched)
        if builder == "frame":
            assert held.to_pylist() == [
                dict(zip("absd", r)) for r in self.EDGE_ROWS]

    @pytest.mark.parametrize("id_type, edges", [
        ("bigint", [(1, 2), (2, 3), (5, 6), (6, 6)]),
        ("string", [("a", "b"), ("b", "c"), ("x", "y")]),
        ("bigint", [(1, 2), (None, 3), (4, None)]),
        ("string", [("a", None), ("b", "c")]),
        ("bigint", []),
        ("string", []),
    ], ids=["bigint", "string", "bigint_null", "string_null",
            "bigint_empty", "string_empty"])
    def test_components_over_held_pairs(
        self, spark, both_modes, id_type, edges
    ):
        """connected_components over a held pairs frame returns what it
        returns over a non-held copy of the same rows, in both modes."""
        from drune_spark.operators.dedup import connected_components

        schema = f"id_a {id_type}, id_b {id_type}, est_jaccard double"
        rows = [(a, b, 0.5) for a, b in edges]
        ids = {x for e in edges for x in e if x is not None}
        extra = 9 if id_type == "bigint" else "z"  # an isolated node
        nodes = spark.createDataFrame(
            [(n,) for n in sorted(ids | {extra})], f"doc_id {id_type}")

        def run(make):
            return both_modes(lambda: _outcome(
                connected_components(make(), nodes)))

        held = run(lambda: replay.frame(spark, rows, schema))
        copy = run(lambda: spark.createDataFrame(rows, schema))
        assert held == copy
        assert held[0] == held[1]

    def test_held_call_runs_no_job(self, spark, jobs_in):
        from drune_spark.operators.dedup import connected_components

        pairs = replay.frame(spark, [(1, 2, 1.0), (2, 3, 1.0)],
                             "id_a bigint, id_b bigint, est_jaccard double")
        nodes = spark.createDataFrame([(n,) for n in range(1, 5)],
                                      "doc_id bigint")
        out, jobs = jobs_in(
            "cc_held", lambda: connected_components(pairs, nodes))
        assert jobs == []
        assert sorted(map(tuple, out.collect())) == [
            (1, 1), (2, 1), (3, 1), (4, 4)]

    def test_hand_off_records(self, spark, records, monkeypatch):
        """A held call logs one ``held`` replay record with its 2|E|
        size; a held input declines as a fetched one does: one record
        above the cutoff or under distributed(), and a NULL id's
        ``null_id`` record supersedes the replay one."""
        from drune_spark.operators.dedup import connected_components

        op = "connected_components"
        schema = "id_a bigint, id_b bigint, est_jaccard double"
        pairs = replay.frame(spark, [(1, 2, 1.0), (2, 3, 1.0)], schema)
        nodes = spark.createDataFrame([(1,), (2,), (3,)], "doc_id bigint")

        def decisions(build):
            seen = len(records())
            build().collect()
            return [(r.path, r.reason, r.size, r.cutoff)
                    for r in records()[seen:] if r.op == op]

        cutoff = replay.CUTOFFS[op]
        assert decisions(lambda: connected_components(pairs, nodes)) == [
            ("replay", "held", 4, cutoff)]
        with replay.distributed():
            assert decisions(
                lambda: connected_components(pairs, nodes)) == [
                ("distributed", "forced", 4, cutoff)]
        nulls = replay.frame(spark, [(1, None, 1.0)], schema)
        assert decisions(lambda: connected_components(nulls, nodes)) == [
            ("replay", "held", 2, cutoff), ("distributed", "null_id", 2,
                                            cutoff)]
        monkeypatch.setitem(replay.CUTOFFS, op, 3)
        assert decisions(lambda: connected_components(pairs, nodes)) == [
            ("distributed", "above_cutoff", 4, 3)]


def _graph_ops():
    """op -> build(case) for every graph replay; a case carries the
    edge list (src, dst, w), its node frame, a node -> community
    assignment and the seed ids."""
    from drune_spark.operators import graph
    from drune_spark.operators.dedup import connected_components

    return {
        "connected_components": lambda c: connected_components(
            c.edges.select(F.col("src").alias("id_a"),
                           F.col("dst").alias("id_b")),
            c.nodes),
        "k_truss": lambda c: graph.k_truss(c.edges, k=3),
        "anf_reach": lambda c: graph.anf_reach(c.edges, trials=2, rounds=2),
        "partition_modularity": lambda c: graph.partition_modularity(
            c.edges, c.assign),
        "pagerank_int": lambda c: graph.pagerank_int(c.edges),
        "personalized_pagerank_int": lambda c:
            graph.personalized_pagerank_int(c.edges, c.seeds),
        "bfs_khop": lambda c: graph.bfs_khop(
            c.edges, c.nodes.filter(F.col("node").isin(c.seeds)), k=2),
        "kcore": lambda c: graph.kcore(c.edges, k=2),
        "label_propagation": lambda c: graph.label_propagation(
            c.edges, rounds=2),
        "hits_int": lambda c: graph.hits_int(c.edges),
    }


GRAPH_OPS = sorted(_graph_ops())
# A symmetric graph on 1..5 with a duplicate edge and a self-loop.
_SYM = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5)]
_BASE = _SYM + [(b, a) for a, b in _SYM] + [(1, 2), (3, 3)]


class _Case:
    def __init__(self, spark, id_type, pairs):
        conv = str if id_type == "string" else int
        rows = [
            (None if a is None else conv(a), None if b is None else conv(b),
             1 + ((a or 0) + (b or 0)) % 3)
            for a, b in pairs
        ]
        ids = sorted({x for a, b, _ in rows for x in (a, b) if x is not None})
        self.edges = spark.createDataFrame(
            rows, f"src {id_type}, dst {id_type}, w bigint")
        self.nodes = spark.createDataFrame(
            [(n,) for n in ids], f"node {id_type}")
        self.assign = spark.createDataFrame(
            [(n, i % 2) for i, n in enumerate(ids)],
            f"node {id_type}, community bigint")
        self.seeds = [conv(1)]


_CASES = {
    "bigint": ("bigint", _BASE),
    "int": ("int", _BASE),
    "string": ("string", _BASE),
    "bigint_null": ("bigint", _BASE + [(None, 2), (2, None)]),
    "string_null": ("string", _BASE + [(None, 2), (2, None)]),
    "bigint_empty": ("bigint", []),
    "string_empty": ("string", []),
}


@pytest.fixture(scope="module")
def graph_cases(spark):
    return {name: _Case(spark, *spec) for name, spec in _CASES.items()}


def _outcome(df):
    return (
        [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
        sorted(map(repr, map(tuple, df.collect()))),
    )


class TestGraphDifferential:
    def test_lists_every_graph_replay(self):
        """A new replay cannot ship without a mode-equivalence case:
        the graph and the non-graph differentials together cover
        exactly the keys of replay.CUTOFFS."""
        assert not set(GRAPH_OPS) & set(NON_GRAPH_OPS)
        assert sorted(GRAPH_OPS + NON_GRAPH_OPS) == sorted(replay.CUTOFFS)

    @pytest.mark.parametrize("op", GRAPH_OPS)
    def test_modes_agree(self, op, graph_cases, both_modes, records):
        """Same schema and rows from the replay and the distributed
        path on duplicate edges with a self-loop, int, bigint and
        string ids, NULL ids and empty edge lists; a NULL id declines
        once, with ``null_id``, in the default mode."""
        build = _graph_ops()[op]
        for name, case in graph_cases.items():
            if op == "label_propagation" and name.startswith("string"):
                # its integer label encoding rejects string ids up front
                def rejects():
                    with pytest.raises(TypeError, match="src is string"):
                        build(case)
                    return True

                assert both_modes(rejects) == (True, True), name
                continue
            seen = len(records())
            fast, slow = both_modes(lambda: _outcome(build(case)))
            assert fast == slow, (op, name)
            declines = [
                r for r in records()[seen:]
                if r.op == op and r.reason == "null_id"
            ]
            # k_truss's canonical u < v filter drops NULL ids first
            want = int(name.endswith("_null") and op != "k_truss")
            assert len(declines) == want, (op, name)

    @pytest.mark.parametrize("pairs, reached", [
        ([(i, i + 1) for i in range(11)], 11),  # a 12-node chain
        ([(0, 1), (1, 2), (5, 6)], 3),  # the frontier drains before k
    ], ids=["chain", "drained"])
    def test_bfs_khop_eager_loop(self, spark, both_modes, pairs, reached):
        """k > 8 takes bfs_khop's eager per-round loop; it matches the
        replay on a chain longer than k and on an early exit."""
        from drune_spark.operators.graph import bfs_khop

        edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
        seeds = spark.createDataFrame([(0,)], "node bigint")
        fast, slow = both_modes(
            lambda: _outcome(bfs_khop(edges, seeds, k=10)))
        assert fast == slow
        assert fast[1] == sorted(repr((i, i)) for i in range(reached))


def _result(build):
    """``_outcome`` of ``build()``, or the error it raised as
    ``"<type>: <message>"``."""
    try:
        return _outcome(build())
    except Exception as e:  # noqa: BLE001 — compared across modes
        return f"{type(e).__name__}: {e}"


def _nongraph_ops():
    """op -> build(case) for every non-graph replay."""
    from drune_spark.operators import bpe, dedup, kmeans, similarity

    return {
        "ngram_jaccard_pairs": lambda c: dedup.ngram_jaccard_pairs(
            c.docs, "text", c.id),
        "containment_pairs": lambda c: dedup.containment_pairs(
            c.docs, "text", c.id),
        "prefix_filter_join": lambda c: dedup.prefix_filter_join(
            c.docs, "text", c.id),
        "minhash_lsh_pairs": lambda c: dedup.minhash_lsh_pairs(
            c.docs, "text", c.id, min_est_jaccard=0.25),
        "incremental_minhash_dedup": lambda c:
            dedup.incremental_minhash_dedup(
                c.docs, c.docs, "text", c.id,
                min_est_jaccard=0.25),
        "lsh_census_eval": lambda c: dedup.lsh_census_eval(
            c.docs, "text", c.id),
        "simhash_near_dup_pairs_portable": lambda c:
            dedup.simhash_near_dup_pairs_portable(
                c.docs, "text", c.id, max_hamming=20),
        "bpe_train": lambda c: bpe.bpe_train(c.corpus, n_merges=3),
        "wordpiece_train": lambda c: bpe.wordpiece_train(
            c.corpus, n_merges=3),
        "ivf_train": lambda c: kmeans.ivf_train(
            c.vecs, n_centroids=2, n_iters=2, dim=2, id_col=c.id),
        "nsw_greedy_search": lambda c: similarity.nsw_greedy_search(
            c.vecs, n_cells=2, m_edges=2, hops=2, query_mod=2, id_col=c.id),
    }


NON_GRAPH_OPS = sorted(_nongraph_ops())
_TEXTS = [
    "the quick brown fox jumps over the lazy dog and runs",
    "the quick brown fox jumps over the sleepy dog and runs",
    "completely different words about spark sql engines",
    "quick brown fox jumps over the lazy dog",
]
_VECS = [[1.0, 0.0], [0.0, 1.0], [0.9, 0.2], [0.2, 0.9], [0.7, 0.6]]
# The replays that need unique ids decline a repeated one (ivf only
# among its seeds, the lowest ids; the repeated id here is the lowest).
_UNIQUE = {"prefix_filter_join", "minhash_lsh_pairs", "lsh_census_eval",
           "incremental_minhash_dedup", "simhash_near_dup_pairs_portable",
           "ivf_train", "nsw_greedy_search"}
# The vector operators take integer ids: string and date ids raise
# ``TypeError`` naming the id column before any Spark job, in both
# modes; ivf's distributed seeding raises ``ValueError`` on a NULL id
# (after the replay declines it) and on a NULL vector element.
_INTEGER = {"ivf_train", "nsw_greedy_search"}
_RAISES = {
    (op, t): f"TypeError: {op} needs int or bigint ids; doc_id is {t}"
    for op in _INTEGER for t in ("string", "date")} | {
    ("ivf_train", "null"): "ValueError: ivf_train: doc_id holds a NULL id",
    ("ivf_train", "null_element"):
        "ValueError: ivf_train: embedding holds a NULL vector element",
}
_ID_FREE = {"bpe_train", "wordpiece_train"}  # the trainers read no ids


class _Inputs:
    """One differential case: documents, vectors and a corpus keyed by
    ``ids`` (one per row) in an id column ``id`` of ``id_type``."""

    def __init__(self, spark, id_type, ids, id_col="doc_id", vecs=_VECS):
        self.id = id_col
        self.docs = spark.createDataFrame(
            list(zip(ids, _TEXTS * 2)), f"{id_col} {id_type}, text string")
        self.vecs = spark.createDataFrame(
            list(zip(ids, vecs)),
            f"{id_col} {id_type}, embedding array<double>")
        # "a" is a 1-symbol word: it has no pair to merge
        self.corpus = spark.createDataFrame(
            [("ab ab abc",), ("a",), ("bca ab",)][:len(ids)],
            "text string")


def _nongraph_cases(spark):
    """case -> (inputs, the decline reason each op records by default
    (``None``: it replays))."""
    import datetime

    def wants(reason, ops=NON_GRAPH_OPS):
        return {op: reason if op in ops else None for op in NON_GRAPH_OPS}

    days = [datetime.date(2020, 1, d) for d in range(1, 5)]
    return {
        "bigint": (_Inputs(spark, "bigint", [1, 2, 3, 4]), wants(None)),
        "int_key": (_Inputs(spark, "int", [4, 3, 2, 1], "key"),
                    wants(None)),
        # the vector operators raise before their gates
        "string": (_Inputs(spark, "string", ["d1", "d2", "d3", "d4"]),
                   wants(None)),
        "date": (_Inputs(spark, "date", days),
                 wants("id_type", set(NON_GRAPH_OPS) - _ID_FREE - _INTEGER)),
        "null": (_Inputs(spark, "bigint", [1, None, 3, 4]),
                 wants("null_id", set(NON_GRAPH_OPS) - _ID_FREE)),
        "duplicate": (_Inputs(spark, "bigint", [1, 1, 3, 4]),
                      wants("duplicate_id", _UNIQUE)),
        # int ids: a result type hard-coded to bigint shows here
        "empty": (_Inputs(spark, "int", [], "key"), wants(None)),
        # read by the vector operators only
        "null_element": (
            _Inputs(spark, "bigint", [1, 2, 3, 4],
                    vecs=[[1.0, None]] + _VECS[1:]),
            {**wants(None), "ivf_train": "null_code",
             "nsw_greedy_search": "vector_domain"}),
    }


@pytest.fixture(scope="module")
def nongraph_cases(spark):
    return _nongraph_cases(spark)


class TestReplayDifferential:
    @pytest.mark.parametrize("op", NON_GRAPH_OPS)
    def test_modes_agree(self, op, nongraph_cases, both_modes, records):
        """Same schema and rows from the replay and the distributed
        path on bigint, string and int ids (the int ids in a column
        named ``key``), date ids, a NULL id, a repeated id, an empty
        input with int ids and a NULL vector element; in the default
        mode each case replays or records its one decline reason."""
        build = _nongraph_ops()[op]
        for name, (case, want) in nongraph_cases.items():
            if op in _ID_FREE and name not in ("bigint", "empty"):
                continue
            if name == "null_element" and op not in _INTEGER:
                continue

            def run():
                marks.append(len(records()))
                return _result(lambda: build(case))

            marks = []
            fast, slow = both_modes(run)
            assert fast == slow, (op, name)
            if (op, name) in _RAISES:
                assert fast == _RAISES[op, name]
            else:
                assert not isinstance(fast, str), (op, name, fast)
            default = [r for r in records()[marks[0]:marks[1]]
                       if r.op == op]
            declines = {r.reason for r in default
                        if r.path == "distributed"}
            assert declines == ({want[op]} if want[op] else set()), (
                op, name, [(r.path, r.reason) for r in default])
