"""Stateful streaming monitor + glossary semantic layer tests."""

import datetime as dt
import importlib.util
import os

import pytest
from pyspark.sql import functions as F


class TestStatefulStreaming:
    def test_user_monitor_matches_batch(self, spark, tmp_path):
        from drune_spark.streaming.stateful import user_monitor_stream

        rows = [
            (1, 10, dt.datetime(2024, 1, 1, 0, 0), 1.5),
            (2, 10, dt.datetime(2024, 1, 1, 0, 10), 2.5),
            (3, 10, dt.datetime(2024, 1, 1, 1, 0), 4.0),   # 50-min gap
            (4, 20, dt.datetime(2024, 1, 1, 2, 0), 7.0),
        ]
        df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
        path = str(tmp_path / "ev.parquet")
        df.write.parquet(path)

        out = {r.user_id: r for r in
               user_monitor_stream(spark, path).collect()}
        assert out[10].n_events == 3
        assert out[10].total_value == 8.0
        assert out[10].max_gap_us == 50 * 60 * 1_000_000
        assert out[20].n_events == 1
        assert out[20].max_gap_us == 0


    def test_state_carries_across_micro_batches(self, spark, tmp_path):
        """Chunked into one-file micro-batches, per-user state (incl. the
        max gap spanning a batch boundary) must equal the single-batch
        result."""
        from drune_spark.streaming.stateful import user_monitor_stream

        rows = [
            (i, i % 5, dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=7 * i),
             float(i))
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
        path = str(tmp_path / "multi")
        # 4 separate files, split by time so per-user gaps cross files.
        df.filter("event_id < 10").coalesce(1).write.mode("append").parquet(path)
        df.filter("event_id >= 10 AND event_id < 20").coalesce(1) \
            .write.mode("append").parquet(path)
        df.filter("event_id >= 20 AND event_id < 30").coalesce(1) \
            .write.mode("append").parquet(path)
        df.filter("event_id >= 30").coalesce(1).write.mode("append").parquet(path)

        single = {r.user_id: (r.n_events, r.total_value, r.max_gap_us)
                  for r in user_monitor_stream(spark, path).collect()}
        chunked = {r.user_id: (r.n_events, r.total_value, r.max_gap_us)
                   for r in user_monitor_stream(
                       spark, path, max_files_per_trigger=1).collect()}
        assert chunked == single
        assert all(n == 8 for n, _, _ in single.values())
        # consecutive events for a user are 35 min apart -> gap constant
        assert all(g == 35 * 60 * 1_000_000 for _, _, g in single.values())


class TestArrowChunkOrdering:
    def test_multi_chunk_unordered_key_data(self, spark, tmp_path):
        """A key's micro-batch data split across several small Arrow
        chunks, stored in shuffled row order, must still produce the
        chronological max_gap (the updater concatenates and sorts ONCE;
        per-chunk sorting would interleave chunks out of order)."""
        import random

        from drune_spark.streaming.stateful import user_monitor_stream

        minutes = [0, 5, 11, 18, 60, 62, 65, 90, 95, 96, 120, 121]
        rows = [
            (i, 1, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), 1.0)
            for i, m in enumerate(minutes)
        ]
        rnd = random.Random(7)
        rnd.shuffle(rows)
        df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
        path = str(tmp_path / "chunked")
        df.coalesce(1).write.parquet(path)

        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        try:
            out = {r.user_id: r
                   for r in user_monitor_stream(spark, path).collect()}
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        gaps = [b - a for a, b in zip(minutes, minutes[1:])]
        assert out[1].n_events == len(minutes)
        assert out[1].max_gap_us == max(gaps) * 60 * 1_000_000


class TestCustomSessionizer:
    def test_sessions_close_by_event_and_by_timeout(self, spark, tmp_path):
        """applyInPandasWithState + EventTimeTimeout: a session closes when
        a beyond-gap event arrives OR when the watermark passes
        last+gap; the final still-open session is not emitted."""
        from drune_spark.streaming.stateful import sessionize_stream

        rows = [
            (1, 1, dt.datetime(2024, 1, 1, 0, 0), 1.0),
            (2, 1, dt.datetime(2024, 1, 1, 0, 10), 1.0),
            (3, 1, dt.datetime(2024, 1, 1, 0, 50), 1.0),  # closes session 1
            (4, 2, dt.datetime(2024, 1, 1, 1, 0), 1.0),
            (5, 1, dt.datetime(2024, 1, 1, 2, 0), 1.0),   # advances watermark
        ]
        df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
        path = str(tmp_path / "sess")
        for lo, hi in [(1, 3), (3, 5), (5, 6)]:  # chronological batches
            df.filter(f"event_id >= {lo} AND event_id < {hi}") \
                .coalesce(1).write.mode("append").parquet(path)

        out = sessionize_stream(spark, path, gap="30 minutes",
                                max_files_per_trigger=1)
        got = {(r.user_id, r.session_start_us, r.n_events)
               for r in out.collect()}
        base = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000)
        mins = 60 * 1_000_000
        assert got == {
            (1, base, 2),               # 00:00-00:10, closed by 00:50 event
            (1, base + 50 * mins, 1),   # 00:50, closed by watermark timeout
            (2, base + 60 * mins, 1),   # 01:00, closed by watermark timeout
        }
        # user 1's 02:00 session is still open -> correctly absent


class TestStreamStreamJoin:
    def _write(self, spark, tmp_path):
        rows = [
            # (event_id, user_id, event_type, ts)
            (1, 10, "click", dt.datetime(2024, 1, 1, 0, 0)),
            (2, 10, "purchase", dt.datetime(2024, 1, 1, 0, 30)),   # in
            (3, 10, "purchase", dt.datetime(2024, 1, 1, 3, 0)),    # out
            (4, 20, "click", dt.datetime(2024, 1, 1, 1, 0)),
            (5, 20, "purchase", dt.datetime(2024, 1, 1, 1, 0)),    # gap 0
            (6, 30, "purchase", dt.datetime(2024, 1, 1, 0, 10)),   # before
            (7, 30, "click", dt.datetime(2024, 1, 1, 0, 20)),
            (8, 40, "click", dt.datetime(2024, 1, 1, 5, 0)),       # cross-
            (9, 50, "purchase", dt.datetime(2024, 1, 1, 5, 10)),   # user
        ]
        df = spark.createDataFrame(
            rows, ["event_id", "user_id", "event_type", "ts"]
        )
        path = str(tmp_path / "ev.parquet")
        df.write.parquet(path)
        return path

    def test_matches_batch_join_semantics(self, spark, tmp_path):
        from drune_spark.streaming.runner import stream_stream_join
        path = self._write(spark, tmp_path)
        out = {(r.user_id, r.l_id, r.r_id): r.gap_us
               for r in stream_stream_join(
                   spark, path, horizon="2 hours").collect()}
        # only in-horizon same-user click→purchase pairs survive
        assert out == {
            (10, 1, 2): 30 * 60 * 1_000_000,
            (20, 4, 5): 0,
        }

    def test_horizon_boundary_inclusive(self, spark, tmp_path):
        from drune_spark.streaming.runner import stream_stream_join
        rows = [
            (1, 1, "click", dt.datetime(2024, 1, 1, 0, 0)),
            (2, 1, "purchase", dt.datetime(2024, 1, 1, 2, 0)),  # == bound
        ]
        df = spark.createDataFrame(
            rows, ["event_id", "user_id", "event_type", "ts"]
        )
        path = str(tmp_path / "b.parquet")
        df.write.parquet(path)
        got = stream_stream_join(spark, path, horizon="2 hours").collect()
        assert len(got) == 1 and got[0].gap_us == 2 * 3600 * 1_000_000


class TestStreamingPipeline:
    def test_same_pipeline_batch_and_streaming(self, spark, tmp_path):
        """The SAME declarative pipeline (schema apply + drop constraint +
        filter step) produces identical rows in batch and micro-batch
        execution."""
        from drune_spark.config.models import PipelineModel
        from drune_spark.pipeline import Pipeline

        src = tmp_path / "src"
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet") \
            .coalesce(2).write.parquet(str(src))
        model = {
            "pipeline_name": "stream_par",
            "sources": [{"name": "orders_src", "type": "file",
                         "format": "parquet", "path": str(src),
                         "schema": {"columns": [
                             {"name": "cd_order", "from": "o_orderkey",
                              "type": "long"},
                             {"name": "vl_total", "from": "o_totalprice",
                              "type": "double",
                              "constraints": [{"rule": "isbetween:[0, 400000]",
                                               "on_fail": "drop"}]},
                             {"name": "st", "from": "o_orderstatus",
                              "type": "str"},
                         ]}}],
            "steps": [{"name": "open_only", "type": "filter",
                       "params": {"where": "st = 'O'"}}],
            "target": {"name": "out", "type": "file", "format": "parquet",
                       "path": str(tmp_path / "batch_out"),
                       "mode": "overwrite"},
        }
        batch = Pipeline(spark, PipelineModel.model_validate(model))
        batch.execute()
        batch_rows = {
            (r.cd_order, r.vl_total)
            for r in spark.read.parquet(
                str(tmp_path / "batch_out" / "out.parquet")).collect()
        }

        model["target"]["path"] = str(tmp_path / "stream_out")
        streaming = Pipeline(spark, PipelineModel.model_validate(model))
        streaming.execute_streaming()
        stream_rows = {
            (r.cd_order, r.vl_total)
            for r in spark.read.parquet(
                str(tmp_path / "stream_out" / "out.parquet")).collect()
        }
        assert stream_rows == batch_rows and len(batch_rows) > 0

    def test_streamed_csv_failure_log(self, spark, tmp_path):
        """A ``.csv`` failed-records path gets CSV with a header from
        both entry points: the streamed log holds the batch log's rows
        (``log_timestamp`` aside)."""
        from drune_spark.config.models import PipelineModel
        from drune_spark.pipeline import Pipeline

        src = tmp_path / "src"
        spark.createDataFrame(
            [(k, 25_000.0 * k) for k in range(12)],
            "o_orderkey bigint, o_totalprice double",
        ).coalesce(2).write.parquet(str(src))
        model = PipelineModel.model_validate({
            "pipeline_name": "stream_csv_log",
            "sources": [{"name": "orders_src", "type": "file",
                         "format": "parquet", "path": str(src),
                         "schema": {"columns": [
                             {"name": "cd_order", "from": "o_orderkey",
                              "type": "long"},
                             {"name": "vl_total", "from": "o_totalprice",
                              "type": "double",
                              "constraints": [{"rule": "isbetween:[0, 100000]",
                                               "on_fail": "drop"}]},
                         ]}}],
            "steps": [],
            "target": {"name": "out", "type": "file", "format": "parquet",
                       "path": str(tmp_path / "out"), "mode": "overwrite"},
        })

        def logged(path):
            df = spark.read.option("header", "true").csv(path)
            return sorted(map(tuple, df.drop("log_timestamp").collect()))

        batch_log = str(tmp_path / "batch_failed.csv")
        Pipeline(spark, model, failed_records_path=batch_log).execute()
        stream_log = str(tmp_path / "stream_failed.csv")
        model.target.path = str(tmp_path / "stream_out")
        Pipeline(spark, model,
                 failed_records_path=stream_log).execute_streaming()
        assert not [n for n in os.listdir(stream_log)
                    if n.endswith(".parquet")]
        batch_rows = logged(batch_log)
        assert batch_rows and logged(stream_log) == batch_rows

    def test_streaming_aggregation_upserts_to_merge_target(
        self, spark, tmp_path
    ):
        """A stateful (aggregating) pipeline with a merge-mode target:
        update-mode results upsert per micro-batch via foreachBatch;
        after draining 3 single-file micro-batches the target equals the
        batch aggregation exactly (cross-batch state + upsert both
        exercised)."""
        from drune_spark.config.models import PipelineModel
        from drune_spark.pipeline import Pipeline

        src = tmp_path / "src"
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet") \
            .coalesce(3).write.parquet(str(src))
        model = {
            "pipeline_name": "stream_agg",
            "sources": [{"name": "orders_src", "type": "file",
                         "format": "parquet", "path": str(src),
                         "options": {"maxFilesPerTrigger": 1}}],
            "steps": [{"name": "agg", "type": "aggregate",
                       "params": {"group_by": ["o_orderstatus"],
                                  "aggs": {
                                      "n_orders": "COUNT(*)",
                                      "total": "CAST(SUM(CAST(o_totalprice"
                                               " AS DECIMAL(18,2)))"
                                               " AS DOUBLE)"}}}],
            "target": {"name": "agg_out", "type": "file",
                       "format": "parquet",
                       "path": str(tmp_path / "out"), "mode": "merge",
                       "schema": {"columns": [
                           {"name": "o_orderstatus", "type": "str"}],
                           "primary_key": ["o_orderstatus"]}},
        }
        p = Pipeline(spark, PipelineModel.model_validate(model))
        p.execute_streaming()

        got = {
            (r.o_orderstatus, r.n_orders, r.total)
            for r in spark.read.parquet(
                str(tmp_path / "out" / "agg_out.parquet")).collect()
        }
        expect = {
            (r.o_orderstatus, r.n_orders, r.total)
            for r in spark.read.parquet(
                "/root/testdata/sf0.001/orders.parquet")
            .groupBy("o_orderstatus")
            .agg(F.expr("COUNT(*)").alias("n_orders"),
                 F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) "
                        "AS DOUBLE)").alias("total"))
            .collect()
        }
        assert got == expect and len(got) >= 2


GLOSSARY_YAML = """
concepts:
  orders:
    table: g_orders
    description: customer orders
    metrics:
      total_revenue: "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
      n_orders: "COUNT(*)"
    segments:
      open: "o_orderstatus = 'O'"
    dimensions: [o_orderpriority]
"""


class TestGlossary:
    @pytest.fixture()
    def glossary(self, spark, tmp_path):
        from drune_spark.glossary import Glossary

        path = tmp_path / "glossary.yml"
        path.write_text(GLOSSARY_YAML)
        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        orders.createOrReplaceTempView("g_orders")
        return Glossary.from_yaml(str(path))

    def test_metric_with_segment_and_dimension(self, spark, glossary):
        df = glossary.query(spark, "orders", ["n_orders", "total_revenue"],
                            segment="open", group_by=["o_orderpriority"])
        rows = {r.o_orderpriority: r.n_orders for r in df.collect()}
        expected = {
            r.o_orderpriority: r.n
            for r in spark.sql(
                "SELECT o_orderpriority, COUNT(*) n FROM g_orders "
                "WHERE o_orderstatus='O' GROUP BY o_orderpriority").collect()
        }
        assert rows == expected

    def test_unknown_metric_and_segment_rejected(self, spark, glossary):
        with pytest.raises(KeyError):
            glossary.compile_sql("orders", ["nope"])
        with pytest.raises(KeyError):
            glossary.compile_sql("orders", ["n_orders"], segment="nope")
        with pytest.raises(KeyError):
            glossary.compile_sql("orders", ["n_orders"], group_by=["o_custkey"])


class TestNl2Sql:
    @pytest.fixture()
    def engine(self, spark, tmp_path):
        from drune_spark.ai import NLQueryEngine
        from drune_spark.glossary import Glossary

        path = tmp_path / "glossary.yml"
        path.write_text(GLOSSARY_YAML)
        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        orders.createOrReplaceTempView("g_orders")
        return NLQueryEngine(Glossary.from_yaml(str(path)))

    def test_metric_segment_dimension_question(self, spark, engine):
        q = "total revenue by order priority for open orders"
        parsed = engine.parse(q)
        assert parsed.concept == "orders"
        assert parsed.metrics == ["total_revenue"]
        assert parsed.segment == "open"
        assert parsed.group_by == ["o_orderpriority"]
        rows = {r.o_orderpriority: r.total_revenue
                for r in engine.ask(spark, q).collect()}
        expected = {
            r.o_orderpriority: r.tr
            for r in spark.sql(
                "SELECT o_orderpriority, CAST(SUM(CAST(o_totalprice AS "
                "DECIMAL(18,2))) AS DOUBLE) tr FROM g_orders "
                "WHERE o_orderstatus='O' GROUP BY o_orderpriority").collect()
        }
        assert rows == expected

    def test_count_intent_maps_to_count_metric(self, spark, engine):
        parsed = engine.parse("how many orders are there")
        assert parsed.metrics == ["n_orders"]
        assert engine.ask(spark, "how many orders").collect()[0].n_orders == \
            spark.table("g_orders").count()

    def test_top_k_orders_by_metric(self, spark, engine):
        parsed = engine.parse("top 2 order priorities by total revenue")
        assert parsed.limit == 2 and parsed.group_by == ["o_orderpriority"]
        out = engine.ask(spark, "top 2 order priorities by total revenue")
        rows = out.collect()
        assert len(rows) == 2
        assert rows[0].total_revenue >= rows[1].total_revenue

    def test_unresolvable_questions_raise(self, engine):
        from drune_spark.ai import NLQueryError
        with pytest.raises(NLQueryError, match="no glossary concept"):
            engine.parse("weather in paris tomorrow")
        with pytest.raises(NLQueryError, match="no metric"):
            engine.parse("orders something unknowable")
        with pytest.raises(NLQueryError, match="needs a dimension"):
            engine.parse("top 5 orders total revenue")

    def test_llm_hook_is_validated(self, engine):
        from drune_spark.ai import NLQueryEngine, NLQueryError
        rogue = NLQueryEngine(engine.glossary,
                              llm_fn=lambda q, hint: "SELECT * FROM secrets")
        with pytest.raises(NLQueryError, match="undeclared tables"):
            rogue.to_sql("total revenue")
        ok = NLQueryEngine(engine.glossary,
                           llm_fn=lambda q, hint:
                           "SELECT COUNT(*) AS n FROM g_orders")
        assert ok.to_sql("how many orders") == "SELECT COUNT(*) AS n FROM g_orders"


class TestKafkaMock:
    def _events(self, spark):
        rows = [
            (i, i % 5, "click" if i % 3 else "view",
             1_700_000_000_000_000 + i * 1_000_000, float(i) / 7.0)
            for i in range(60)
        ]
        return spark.createDataFrame(
            rows,
            "event_id long, user_id long, event_type string, "
            "ts_us long, value double",
        )

    def test_wire_contract_and_offsets(self, spark):
        from drune_spark.sources.kafka_mock import (
            KAFKA_WIRE_COLUMNS, kafka_wire_frame,
        )
        ev = self._events(spark)
        wire = kafka_wire_frame(
            ev, "user_id", "ts_us", "t", n_partitions=3,
            tie_cols=["event_id"],
        )
        assert wire.columns == KAFKA_WIRE_COLUMNS
        rows = wire.collect()
        assert {type(r.key) for r in rows} <= {bytes, bytearray}
        # offsets are dense 0..n-1 within each partition
        by_part = {}
        for r in rows:
            by_part.setdefault(r.partition, []).append(r.offset)
        assert set(by_part) <= {0, 1, 2}
        for offs in by_part.values():
            assert sorted(offs) == list(range(len(offs)))
        # same key always lands on the same partition
        key_parts = {}
        for r in rows:
            key_parts.setdefault(bytes(r.key), set()).add(r.partition)
        assert all(len(p) == 1 for p in key_parts.values())

    def test_log_replay_stream_matches_batch(self, spark, tmp_path):
        """Producer writes the broker log; a streaming consumer replays
        it file-by-file and the decoded per-type counts match batch."""
        from drune_spark.sources.kafka_mock import (
            kafka_wire_frame, parse_kafka_value, read_kafka_log,
            write_kafka_log,
        )
        ev = self._events(spark)
        wire = kafka_wire_frame(
            ev, "user_id", "ts_us", "t", n_partitions=3,
            tie_cols=["event_id"],
        )
        log = str(tmp_path / "kafka_log")
        write_kafka_log(wire, log)
        # one file per partition on disk → 3 replay steps
        schema = ("event_id long, user_id long, event_type string, "
                  "ts_us long, value double")
        stream = read_kafka_log(
            spark, log, options={"maxFilesPerTrigger": "1"}
        )
        parsed = parse_kafka_value(stream, schema)
        out = str(tmp_path / "out")
        chk = str(tmp_path / "chk")
        (parsed.writeStream.format("parquet")
            .option("checkpointLocation", chk)
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120))
        got = {r.event_type: (r.n, r.sum_ids)
               for r in spark.read.parquet(out)
               .groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("event_id").alias("sum_ids"))
               .collect()}
        want = {r.event_type: (r.n, r.sum_ids)
                for r in ev.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("event_id").alias("sum_ids")).collect()}
        assert got == want

    def test_value_json_roundtrip_is_lossless(self, spark):
        from drune_spark.sources.kafka_mock import (
            kafka_wire_frame, parse_kafka_value,
        )
        ev = self._events(spark)
        wire = kafka_wire_frame(
            ev, "user_id", "ts_us", "t", n_partitions=2,
            tie_cols=["event_id"],
        )
        parsed = parse_kafka_value(
            wire,
            "event_id long, user_id long, event_type string, "
            "ts_us long, value double",
        )
        got = {(r.event_id, r.user_id, r.event_type, r.ts_us, r.value)
               for r in parsed.collect()}
        want = {tuple(r) for r in ev.collect()}
        assert got == want


class TestStreamedDistinct:
    def test_matches_batch_distinct(self, spark, tmp_path):
        """The streamed distinct keys, and the native session windows
        the stream finalizes (ending by the last event time), equal the
        batch answers on the same rows."""
        from drune_spark.streaming.runner import (
            session_window_counts, streamed_distinct,
        )
        import datetime as dt

        rows = []
        base = dt.datetime(2024, 1, 1)
        for d in range(3):
            for t in ("click", "view"):
                for _ in range(4):  # duplicates within each key
                    rows.append(
                        (len(rows), base + dt.timedelta(days=d, minutes=len(rows)),
                         1, t, 1.0, "{}")
                    )
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        path = str(tmp_path / "ev")
        df.write.parquet(path)
        got = sorted(
            (r.event_type, r.day)
            for r in streamed_distinct(spark, path).collect()
        )
        want = sorted(
            (r.event_type, r.day)
            for r in df.select(
                "event_type",
                F.expr("unix_micros(ts) div 86400000000").alias("day"),
            ).distinct().collect()
        )
        assert got == want and len(got) == 6

        sessions = sorted(
            tuple(r) for r in session_window_counts(spark, path).collect()
        )
        last = df.agg(F.max("ts")).first()[0]
        batch = sorted(
            tuple(r) for r in df.groupBy(
                F.session_window("ts", "30 minutes"), "user_id"
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,3)")).alias("v"),
            ).filter(F.col("session_window.end") <= F.lit(last)).select(
                "user_id",
                F.unix_millis("session_window.start"),
                F.unix_millis("session_window.end"),
                "n",
                F.col("v").cast("double"),
            ).collect()
        )
        # one session a day; the last day's is still open
        assert sessions == batch and len(batch) == 2

    def test_within_watermark_expiry_readmits(self, spark, tmp_path):
        """dropDuplicatesWithinWatermark semantics under the constructed
        4-batch schedule: in-horizon duplicate suppressed (key idx 0),
        post-expiry duplicate re-admitted (idx 1), singleton unchanged
        (idx 2)."""
        from drune_spark.streaming.runner import (
            streamed_distinct_within_watermark,
        )
        import datetime as dt

        rows = [
            (i, dt.datetime(2024, 1, 1), 1, t, 1.0, "{}")
            for i, t in enumerate(["apple", "berry", "cherry"] * 2)
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )
        path = str(tmp_path / "ev")
        df.write.parquet(path)
        got = sorted(
            (r.event_type, r.ts_hour)
            for r in streamed_distinct_within_watermark(spark, path).collect()
        )
        assert got == [
            ("apple", 1),   # dup at hour 11 suppressed (inside horizon)
            ("berry", 1),
            ("berry", 31),  # dup after state expiry re-admitted
            ("cherry", 1),
        ]


class TestStreamUpsert:
    def test_multi_batch_equals_single_batch(self, spark, tmp_path):
        """maxFilesPerTrigger=1 over 3 files forces 3 micro-batches;
        the final state must equal the one-batch (and pure-batch)
        answer — the batch-split-invariance contract."""
        import datetime as dt
        from drune_spark.streaming.runner import stream_upsert
        base = dt.datetime(2024, 1, 1)
        rows = [
            (i, base + dt.timedelta(minutes=i), 100 + i,
             "click" if i % 2 else "view", (i % 5) + 1)
            for i in range(30)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, x long, "
                  "event_type string, user_id long"
        ).select("event_id", "ts", "user_id", "event_type")
        src = str(tmp_path / "ev")
        df.repartition(3).write.parquet(src)

        multi = stream_upsert(spark, src,
                              options={"maxFilesPerTrigger": "1"})
        single = stream_upsert(spark, src)
        want = {u: max((r for r in rows if r[4] == u),
                       key=lambda r: (r[1], r[0]))
                for u in {r[4] for r in rows}}
        got_multi = {r.user_id: (r.last_event_id, r.last_type)
                     for r in multi.collect()}
        got_single = {r.user_id: (r.last_event_id, r.last_type)
                      for r in single.collect()}
        expect = {u: (w[0], w[3]) for u, w in want.items()}
        assert got_multi == expect
        assert got_single == expect


try:
    _HAS_PROTOBUF = importlib.util.find_spec("google.protobuf") is not None
except ModuleNotFoundError:  # no 'google' namespace package at all
    _HAS_PROTOBUF = False


class TestTransformWithState:
    """Spark 4 state API v2 (stateful.py _TypeCountProcessor). The e2e
    streaming run needs google.protobuf (the v2 state-server protocol)
    which this container lacks — gated like the delta-spark paths; the
    processor's cross-batch state logic is unit-tested against a fake
    handle either way."""

    def test_processor_logic_with_fake_state(self):
        import pandas as pd

        from drune_spark.streaming.stateful import _TypeCountProcessor

        class FakeMapState:
            def __init__(self):
                self.d = {}

            def containsKey(self, k):
                return k in self.d

            def getValue(self, k):
                return self.d[k]

            def updateValue(self, k, v):
                self.d[k] = v

        class FakeHandle:
            def getMapState(self, name, ks, vs):
                return FakeMapState()

        p = _TypeCountProcessor()
        p.init(FakeHandle())
        b1 = pd.DataFrame(
            {"event_type": ["view", "view", "click"],
             "value": [1.0005, 2.0, 3.25]}
        )
        out1 = list(p.handleInputRows((7,), iter([b1]), None))[0]
        got1 = {t.event_type: (t.n_events, t.value_milli)
                for t in out1.itertuples()}
        # floor(v*1000+0.5): 1001, 2000, 3250
        assert got1 == {"view": (2, 3001), "click": (1, 3250)}
        b2 = pd.DataFrame({"event_type": ["view"], "value": [0.5]})
        out2 = list(p.handleInputRows((7,), iter([b2]), None))[0]
        got2 = {t.event_type: (t.n_events, t.value_milli)
                for t in out2.itertuples()}
        assert got2 == {"view": (3, 3501)}  # state carried across calls

    @pytest.mark.skipif(
        not _HAS_PROTOBUF,
        reason="google.protobuf absent — v2 state server cannot start",
    )
    def test_type_count_stream_matches_batch(self, spark):
        from pyspark.sql import functions as F

        from drune_spark.sources.readers import read_parquet_nanos_safe
        from drune_spark.streaming.stateful import type_count_stream

        path = "/root/testdata/sf0.001/events.parquet"
        out = {
            (r.user_id, r.event_type): (r.n_events, r.value_milli)
            for r in type_count_stream(spark, path).collect()
        }
        ev = read_parquet_nanos_safe(spark, path)
        exp = {
            (r.user_id, r.event_type): (r.n, r.m)
            for r in ev.groupBy("user_id", "event_type").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.expr("cast(floor(value*1000+0.5) as bigint)")
                ).alias("m"),
            ).collect()
        }
        assert out == exp


class TestStreamOuterJoin:
    def test_null_emission_cutoff(self, spark, tmp_path):
        """Left-outer null rows are emitted exactly for unmatched
        clicks whose whole horizon the final watermark passed; a
        later unmatched click stays in state, unemitted."""
        from drune_spark.streaming.runner import stream_stream_join

        rows = [
            (1, 1, "click", dt.datetime(2024, 1, 1, 0, 0)),
            (2, 1, "purchase", dt.datetime(2024, 1, 1, 1, 0)),   # match
            (3, 2, "click", dt.datetime(2024, 1, 1, 0, 0)),      # expired
            (4, 3, "click", dt.datetime(2024, 1, 1, 10, 0)),     # open tail
            (5, 4, "purchase", dt.datetime(2024, 1, 1, 12, 30)),
        ]
        # wm = min(max click 10:00, max purchase 12:30) = 10:00;
        # u2's click horizon ends 02:00 < wm -> null row;
        # u3's ends 12:00 >= wm -> still in state.
        df = spark.createDataFrame(
            rows, ["event_id", "user_id", "event_type", "ts"]
        )
        path = str(tmp_path / "oj.parquet")
        df.write.parquet(path)
        out = stream_stream_join(
            spark, path, watermark="0 seconds", how="left_outer"
        ).collect()
        got = {(r.user_id, r.l_id): (r.r_id, r.gap_us) for r in out}
        assert got == {
            (1, 1): (2, 3600 * 1_000_000),
            (2, 3): (None, None),
        }

    def test_inner_subset_of_outer(self, spark, tmp_path):
        from drune_spark.streaming.runner import stream_stream_join

        rows = [
            (i, i % 3, "click" if i % 2 == 0 else "purchase",
             dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=13 * i))
            for i in range(20)
        ]
        df = spark.createDataFrame(
            rows, ["event_id", "user_id", "event_type", "ts"]
        )
        path = str(tmp_path / "sub.parquet")
        df.write.parquet(path)
        inner = {(r.user_id, r.l_id, r.r_id)
                 for r in stream_stream_join(spark, path).collect()}
        outer_rows = stream_stream_join(
            spark, path, watermark="0 seconds", how="left_outer"
        ).collect()
        outer_matched = {(r.user_id, r.l_id, r.r_id)
                         for r in outer_rows if r.r_id is not None}
        assert outer_matched == inner
        assert all(r.gap_us is None
                   for r in outer_rows if r.r_id is None)


class TestRocksDbProvider:
    def test_streamed_distinct_matches_default_provider(
        self, spark, tmp_path
    ):
        """RocksDB state store changes WHERE state lives, never WHAT
        is emitted — byte-identical distinct set vs the HDFS-backed
        default."""
        from drune_spark.streaming.runner import streamed_distinct

        rows = [
            (i, i % 4, "click" if i % 3 else "view",
             dt.datetime(2024, 1, 1 + i % 5, 0, 0))
            for i in range(30)
        ]
        df = spark.createDataFrame(
            rows, ["event_id", "user_id", "event_type", "ts"]
        )
        path = str(tmp_path / "rd.parquet")
        df.write.parquet(path)

        key = "spark.sql.streaming.stateStore.providerClass"
        default = sorted(
            tuple(r) for r in streamed_distinct(spark, path).collect()
        )
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        try:
            rocks = sorted(
                tuple(r) for r in streamed_distinct(spark, path).collect()
            )
        finally:
            spark.conf.unset(key)
        assert rocks == default and len(rocks) > 0


class TestStreamAntiFilter:
    def test_manifest_rows_dropped_stateless(self, spark, tmp_path):
        from drune_spark.streaming.runner import stream_anti_filter

        rows = [
            (i, i % 3, "click", dt.datetime(2024, 1, 1 + i % 4, 0, 0))
            for i in range(12)
        ]
        df = spark.createDataFrame(
            rows, ["event_id", "user_id", "event_type", "ts"]
        )
        path = str(tmp_path / "af.parquet")
        df.write.parquet(path)
        seen = spark.createDataFrame(
            [(i,) for i in (0, 2, 4, 6, 8, 10)], ["seen_id"]
        )
        out = sorted(
            r.event_id
            for r in stream_anti_filter(spark, path, seen).collect()
        )
        assert out == [1, 3, 5, 7, 9, 11]


class TestDrain:
    def test_leaves_no_session_state(self, spark, tmp_path, monkeypatch):
        """Under the hostile session's 200 shuffle partitions, a
        memory-sink operator, a foreachBatch operator, two failing
        queries and ``execute_streaming()`` leave the conf at 200, the
        state-store provider as it was, no new temp view, no active
        query and no checkpoint directory behind; the memory-sink frame
        stays readable after its view is dropped."""
        import tempfile

        from pyspark.errors import StreamingQueryException

        from drune_spark.config.models import PipelineModel
        from drune_spark.pipeline import Pipeline
        from drune_spark.streaming.runner import (
            ROCKSDB, drain, stream_cms_sketch, streamed_distinct,
        )

        scratch = tmp_path / "tmp"
        scratch.mkdir()
        monkeypatch.setattr(tempfile, "tempdir", str(scratch))
        provider = next(iter(ROCKSDB))
        df = spark.createDataFrame(
            [(i, dt.datetime(2024, 1, 1 + i % 3), i % 2, "click", 1.0)
             for i in range(12)],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double",
        )
        path = str(tmp_path / "ev")
        df.write.parquet(path)
        src = spark.readStream.schema(df.schema).parquet(path)

        def boom(batch_df, batch_id):
            raise RuntimeError("boom")

        prev_partitions = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        try:
            views = {t.name for t in spark.catalog.listTables()}
            before = spark.conf.get(provider, None)
            distinct = streamed_distinct(spark, path)
            assert stream_cms_sketch(spark, path, top_k=2).count() == 2
            with pytest.raises(StreamingQueryException, match="boom"):
                drain(src, sink=lambda w: w.foreachBatch(boom).start(),
                      conf=ROCKSDB)
            with pytest.raises(StreamingQueryException):
                drain(src.withColumn(
                    "x", F.raise_error(F.lit("boom")).cast("int")))
            Pipeline(spark, PipelineModel.model_validate({
                "pipeline_name": "drain_hygiene",
                "sources": [{"name": "ev", "type": "file",
                             "format": "parquet", "path": path,
                             "schema": {"columns": [
                                 {"name": "cd_event", "from": "event_id",
                                  "type": "long",
                                  "constraints": [{"rule": "isbetween:[0, 5]",
                                                   "on_fail": "drop"}]}]}}],
                "steps": [],
                "target": {"name": "out", "type": "file",
                           "format": "parquet",
                           "path": str(tmp_path / "out"),
                           "mode": "overwrite"},
            }), failed_records_path=str(tmp_path / "failed.csv")
            ).execute_streaming()
            assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
            assert spark.conf.get(provider, None) == before
            assert {t.name for t in spark.catalog.listTables()} == views
            assert spark.streams.active == []
            assert os.listdir(scratch) == []
            assert distinct.count() == 3
            assert len(os.listdir(tmp_path / "failed.csv")) > 0
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_partitions)
