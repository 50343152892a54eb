"""The replay module: the bounded collect, the decision records and the
``distributed()`` switch, plus the edge cases where the two execution
modes used to disagree (empty inputs, a corpus that runs out of pairs)."""

import logging

import pytest

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
