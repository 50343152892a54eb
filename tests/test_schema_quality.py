"""Schema-apply + quality-engine tests.

Mirrors the reference's behavioral spec: the CLI fixture corpus A1-A9
(FIXTURES.md §A — rename/pk/rules, nulls failing, bad casts, missing
columns, reserved names) and the constraint micro-tables
(reference: tests/test_quality.py:23-152)."""

import pytest

from pyspark.sql import functions as F

from drune_spark.config.models import ColumnSpec, ConstraintSpec, SchemaSpec
from drune_spark.plans.schema_apply import (
    SchemaApplyError,
    add_data_hash,
    add_hash_key,
    apply_schema,
)
from drune_spark.quality.manager import ConstraintError, apply_constraints


def col(name, **kw):
    return ColumnSpec(name=name, **kw)


class TestSchemaApply:
    def test_rename_cast_expression(self, spark):  # A2
        df = spark.createDataFrame(
            [("A100", "10.5", "  x  ")], ["code", "amount", "pad"]
        )
        out = apply_schema(df, SchemaSpec(columns=[
            col("codigo", **{"from": "code"}, type="str"),
            col("valor", **{"from": "amount"}, type="float"),
            col("clean", **{"from": "pad"}, type="str",
                expression="trim({col})"),
        ]))
        row = out.collect()[0]
        assert row.codigo == "A100"
        assert row.valor == 10.5
        assert row.clean == "x"
        assert dict(out.dtypes)["valor"] == "double"

    def test_strict_cast_fails_try_cast_nulls(self, spark):  # A5
        df = spark.createDataFrame([("1",), ("x",)], ["col1"])
        strict = apply_schema(df, SchemaSpec(columns=[col("col1", type="int")]))
        with pytest.raises(Exception):
            strict.collect()  # ANSI cast error on 'x'
        lax = apply_schema(
            df, SchemaSpec(columns=[col("col1", type="int", try_cast=True)])
        )
        assert [r.col1 for r in lax.collect()] == [1, None]

    def test_missing_required_column_fails(self, spark):  # A8
        df = spark.createDataFrame([(1,)], ["col1"])
        with pytest.raises(SchemaApplyError):
            apply_schema(df, SchemaSpec(columns=[
                col("col1", type="int"), col("col2", type="str"),
            ]))

    def test_missing_optional_column_is_typed_null(self, spark):
        df = spark.createDataFrame([(1,)], ["col1"])
        out = apply_schema(df, SchemaSpec(columns=[
            col("col1", type="int"),
            col("col2", type="str", optional=True),
        ]))
        assert out.collect()[0].col2 is None
        assert dict(out.dtypes)["col2"] == "string"

    def test_derived_column_sees_renamed_names(self, spark):  # B1 ds_login
        df = spark.createDataFrame([("a@b.com",)], ["email"])
        out = apply_schema(df, SchemaSpec(columns=[
            col("ds_email", **{"from": "email"}, type="str"),
            col("ds_login", type="str", expression="split(ds_email, '@')[1]"),
        ]))
        assert out.collect()[0].ds_login == "b.com"

    def test_snake_case_rename_pattern(self, spark):  # P3
        df = spark.createDataFrame([(1, 2)], ["userId", "totalAmount"])
        out = apply_schema(df, SchemaSpec(
            column_rename_pattern="snake_case",
            columns=[col("user_id", type="int"),
                     col("total_amount", type="int")],
        ))
        assert out.columns == ["user_id", "total_amount"]

    def test_exotic_types_via_ddl_strings(self, spark):
        """String-typed YAML resolves through Spark DDL parsing, so
        decimal / array types come free (SURVEY §1.2)."""
        df = spark.createDataFrame([("12.345", "1,2,3")], ["amount", "nums"])
        out = apply_schema(df, SchemaSpec(columns=[
            col("amount", type="decimal(10,2)"),
            # {raw} = uncast source: the expression changes the type, so
            # the declared cast applies to its result, not its input.
            col("nums", type="array<int>", expression="split({raw}, ',')"),
        ]))
        row = out.collect()[0]
        assert str(row.amount) == "12.35"
        assert row.nums == [1, 2, 3]
        assert dict(out.dtypes) == {"amount": "decimal(10,2)",
                                    "nums": "array<int>"}

    def test_date_format(self, spark):
        df = spark.createDataFrame([("2025-08-01",)], ["d"])
        out = apply_schema(df, SchemaSpec(columns=[
            col("data", **{"from": "d"}, type="date", format="yyyy-MM-dd"),
        ]))
        assert str(out.collect()[0].data) == "2025-08-01"


class TestControlColumns:
    def test_hash_key_sorted_pk(self, spark):  # A3 composite pk
        df = spark.createDataFrame([(1, "A")], ["k2", "k1"])
        out = add_hash_key(df, ["k2", "k1"])
        expected = spark.sql(
            "SELECT sha2(concat_ws('||', 'A', '1'), 256) AS h"
        ).collect()[0].h
        assert out.collect()[0].hash_key == expected

    def test_duplicate_rows_same_hash(self, spark):
        df = spark.createDataFrame([(1, "x"), (1, "y")], ["pk", "v"])
        out = add_hash_key(df, ["pk"]).select("hash_key").distinct()
        assert out.count() == 1

    def test_data_hash_changes_with_tracked_value(self, spark):
        df = spark.createDataFrame([(1, "x"), (1, "y")], ["pk", "v"])
        out = add_data_hash(df, ["pk", "v"]).select("data_hash").distinct()
        assert out.count() == 2


class TestQuality:
    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "A"), (2, "B"), (None, "C"), (4, "A")], ["col1", "col2"]
        )

    def test_not_null_fail_raises(self, spark):  # A4
        schema = SchemaSpec(columns=[
            col("col1", type="int",
                constraints=[ConstraintSpec(rule="not_null")]),
        ])
        with pytest.raises(ConstraintError):
            apply_constraints(self._df(spark), schema)

    def test_fail_rule_carries_failure_log(self, spark, tmp_path):
        """The audit trail must survive an aborted run: the exception
        carries the failure frame, and Pipeline writes it before
        re-raising (reference logs failures prior to aborting)."""
        schema = SchemaSpec(columns=[
            col("col1", type="int",
                constraints=[ConstraintSpec(rule="not_null")]),
        ])
        with pytest.raises(ConstraintError) as ei:
            apply_constraints(self._df(spark), schema)
        err = ei.value
        assert err.failures is not None
        logged = err.failures.collect()
        assert len(logged) == 1 and logged[0].failed_column == "col1"
        if err.flagged is not None:
            err.flagged.unpersist()

    def test_pipeline_writes_failure_log_before_abort(self, spark, tmp_path):
        from drune_spark.config.models import PipelineModel
        from drune_spark.pipeline import Pipeline

        src = tmp_path / "src"
        self._df(spark).write.parquet(str(src))
        log_path = str(tmp_path / "failed.parquet")
        model = PipelineModel.model_validate({
            "pipeline_name": "abort_log",
            "sources": [{"name": "s", "type": "file", "format": "parquet",
                         "path": str(src),
                         "schema": {"columns": [
                             {"name": "col1", "type": "int",
                              "constraints": [{"rule": "not_null",
                                               "on_fail": "fail"}]},
                         ]}}],
            "steps": [],
            "target": {"name": "out", "type": "file", "format": "parquet",
                       "path": str(tmp_path / "out"), "mode": "overwrite"},
        })
        pipe = Pipeline(spark, model, failed_records_path=log_path)
        with pytest.raises(ConstraintError):
            pipe.read()
        logged = spark.read.parquet(log_path).collect()
        assert len(logged) == 1 and logged[0].failed_column == "col1"

    def test_not_null_drop(self, spark):
        schema = SchemaSpec(columns=[
            col("col1", type="int",
                constraints=[ConstraintSpec(rule="not_null", on_fail="drop")]),
        ])
        result = apply_constraints(self._df(spark), schema)
        assert result.passed.count() == 3
        assert result.failed_total() == 1

    def test_warn_keeps_rows(self, spark):
        schema = SchemaSpec(columns=[
            col("col2", type="str",
                constraints=[ConstraintSpec(rule="isin:['A','B']",
                                            on_fail="warn")]),
        ])
        result = apply_constraints(self._df(spark), schema)
        assert result.passed.count() == 4
        assert result.failed_total() == 1  # the 'C'

    def test_set_null(self, spark):
        schema = SchemaSpec(columns=[
            col("col2", type="str",
                constraints=[ConstraintSpec(rule="pattern:'^[AB]$'",
                                            on_fail="set_null")]),
        ])
        result = apply_constraints(self._df(spark), schema)
        vals = sorted([r.col2 for r in result.passed.collect()],
                      key=lambda v: (v is None, v))
        assert vals == ["A", "A", "B", None]

    def test_unique_flags_duplicates(self, spark):
        schema = SchemaSpec(columns=[
            col("col2", type="str",
                constraints=[ConstraintSpec(rule="unique", on_fail="drop")]),
        ])
        result = apply_constraints(self._df(spark), schema)
        assert sorted(r.col2 for r in result.passed.collect()) == ["B", "C"]

    def test_numeric_rules(self, spark):  # micro-table: gte / isbetween
        df = spark.createDataFrame([(10.0,), (20.0,), (30.0,)], ["value"])
        schema = SchemaSpec(columns=[
            col("value", type="double", constraints=[
                ConstraintSpec(rule="greater_than_or_equal_to:20",
                               on_fail="drop"),
            ]),
        ])
        assert apply_constraints(df, schema).passed.count() == 2
        schema2 = SchemaSpec(columns=[
            col("value", type="double", constraints=[
                ConstraintSpec(rule="isbetween:[15, 25]", on_fail="drop"),
            ]),
        ])
        assert apply_constraints(df, schema2).passed.count() == 1

    def test_min_length_and_is_date(self, spark):
        df = spark.createDataFrame(
            [("abc", "2024-01-01"), ("a", "nope")], ["s", "d"]
        )
        schema = SchemaSpec(columns=[
            col("s", type="str",
                constraints=[ConstraintSpec(rule="min_length:2",
                                            on_fail="drop")]),
            col("d", type="str",
                constraints=[ConstraintSpec(rule="is_date", on_fail="drop")]),
        ])
        out = apply_constraints(df, schema).passed
        assert out.count() == 1
        assert out.collect()[0].s == "abc"

    def test_null_input_counts_as_failure(self, spark):
        """A rule evaluating to NULL (NULL input to a comparison) must be
        counted, logged, and honored by on_fail — not silently dropped."""
        df = spark.createDataFrame([(1.0,), (None,), (30.0,)], ["v"])
        schema = SchemaSpec(columns=[
            col("v", type="double", constraints=[
                ConstraintSpec(rule="greater_than:5", on_fail="warn"),
            ]),
        ])
        result = apply_constraints(df, schema)
        assert result.failed_total() == 2  # 1.0 and the NULL
        assert result.failures.count() == 2
        # and a fail rule must abort on the NULL row too
        schema_fail = SchemaSpec(columns=[
            col("v", type="double", constraints=[
                ConstraintSpec(rule="greater_than:0"),
            ]),
        ])
        with pytest.raises(ConstraintError):
            apply_constraints(df, schema_fail)

    def test_repeated_function_in_rule_chain(self, spark):
        """Two isbetween rules in one chain must each use their own
        params (regression: re-parse by name returned the first)."""
        df = spark.createDataFrame([(5.0,), (55.0,), (200.0,)], ["v"])
        schema = SchemaSpec(columns=[
            col("v", type="double", constraints=[
                ConstraintSpec(rule="isbetween:[0,10]|isbetween:[0,100]",
                               on_fail="warn"),
            ]),
        ])
        result = apply_constraints(df, schema)
        by_flag = result.counts
        vals = sorted(by_flag.values())
        # first rule fails 55 and 200 (2); second fails only 200 (1)
        assert vals == [1, 2]

    def test_failure_log_schema(self, spark):
        schema = SchemaSpec(columns=[
            col("col1", type="int",
                constraints=[ConstraintSpec(rule="not_null", on_fail="warn")]),
        ])
        result = apply_constraints(self._df(spark), schema, pipeline_name="pl")
        assert result.failures.columns == [
            "pipeline_name", "validation_rule", "failed_column",
            "failed_value", "log_timestamp", "hash_key",
        ]
        rows = result.failures.collect()
        assert len(rows) == 1 and rows[0].pipeline_name == "pl"


def _rows(df):
    return sorted(map(repr, df.collect()))


class TestObservedCounts:
    """Counts observed on the flag frame (``collect_counts=False``) must
    equal the eagerly collected ones, without an action of their own."""

    def _abc(self, spark):
        return spark.createDataFrame(
            [(1, "A"), (2, "B"), (None, "C"), (4, "A")], ["col1", "col2"]
        )

    def _cases(self, spark):
        v = spark.createDataFrame([(1.0,), (None,), (30.0,)], ["v"])
        chain = spark.createDataFrame([(5.0,), (55.0,), (200.0,)], ["v"])
        return {
            "null_input": (v, SchemaSpec(columns=[
                col("v", type="double", constraints=[
                    ConstraintSpec(rule="greater_than:5", on_fail="warn")]),
            ])),
            "repeated_fn_chain": (chain, SchemaSpec(columns=[
                col("v", type="double", constraints=[
                    ConstraintSpec(rule="isbetween:[0,10]|isbetween:[0,100]",
                                   on_fail="warn")]),
            ])),
            "set_null": (self._abc(spark), SchemaSpec(columns=[
                col("col2", type="str", constraints=[
                    ConstraintSpec(rule="pattern:'^[AB]$'", on_fail="set_null")]),
            ])),
            "unique": (self._abc(spark), SchemaSpec(columns=[
                col("col2", type="str", constraints=[
                    ConstraintSpec(rule="unique", on_fail="drop")]),
            ])),
            "warn_drop_mix": (self._abc(spark), SchemaSpec(columns=[
                col("col1", type="int", constraints=[
                    ConstraintSpec(rule="not_null", on_fail="drop")]),
                col("col2", type="str", constraints=[
                    ConstraintSpec(rule="isin:['A','B']", on_fail="warn")]),
            ])),
        }

    def test_deferred_counts_equal_eager(self, spark, jobs_in):
        for name, (df, schema) in self._cases(spark).items():
            eager = apply_constraints(df, schema)
            eager_rows, eager_counts = _rows(eager.passed), eager.counts
            eager.unpersist()
            lazy = apply_constraints(df, schema, collect_counts=False)
            assert _rows(lazy.passed) == eager_rows, name
            # collecting `passed` resolved the observation: no job left
            counts, jobs = jobs_in(f"dq_eq_{name}", lambda: lazy.counts)
            assert counts == eager_counts, name
            assert jobs == [], name
            assert sum(eager_counts.values()) > 0, name
            # one failure-log row per failed (row, rule)
            assert lazy.failures.count() == sum(counts.values()), name

    def test_counts_resolve_without_any_prior_action(self, spark):
        df, schema = self._cases(spark)["warn_drop_mix"]
        lazy = apply_constraints(df, schema, collect_counts=False)
        assert sorted(lazy.counts.values()) == [1, 1]
        assert lazy.failed_total() == 2

    def test_deferred_runs_no_job(self, spark, jobs_in):
        df, schema = self._cases(spark)["warn_drop_mix"]
        res, jobs = jobs_in(
            "dq_deferred_no_job",
            lambda: apply_constraints(df, schema, collect_counts=False))
        assert jobs == []
        assert "InMemoryRelation" not in \
            res.passed._jdf.queryExecution().optimizedPlan().toString()

    def test_two_set_null_rules_on_one_column_compose(self, spark):
        schema = SchemaSpec(columns=[
            col("col2", type="str", constraints=[
                ConstraintSpec(rule="pattern:'^[ABC]$'", on_fail="set_null"),
                ConstraintSpec(rule="isin:['A','C']", on_fail="set_null"),
            ]),
        ])
        res = apply_constraints(self._abc(spark), schema)
        by_id = {r.col1: r.col2 for r in res.passed.collect()}
        # 'B' fails only the second rule, and is nulled
        assert by_id == {1: "A", 2: None, None: "C", 4: "A"}
        assert sorted(res.counts.values()) == [0, 1]

    def _pipeline(self, spark, tmp_path, steps, extra_sources=(), **kw):
        from drune_spark.config.models import PipelineModel
        from drune_spark.pipeline import Pipeline

        src = tmp_path / "src"
        self._abc(spark).write.parquet(str(src))
        model = PipelineModel.model_validate({
            "pipeline_name": "observed",
            "sources": [{"name": "s", "type": "file", "format": "parquet",
                         "path": str(src),
                         "schema": {"columns": [
                             {"name": "col1", "type": "int",
                              "constraints": [{"rule": "not_null",
                                               "on_fail": "drop"}]},
                             {"name": "col2", "type": "str",
                              "constraints": [{"rule": "isin:['A','B']",
                                               "on_fail": "warn"}]},
                         ]}}, *extra_sources],
            "steps": steps,
            "target": {"name": "out", "type": "file", "format": "parquet",
                       "path": str(tmp_path / "out.parquet"),
                       "mode": "overwrite"},
        })
        return Pipeline(spark, model, **kw), str(tmp_path / "out.parquet")

    def _eager_counts(self, spark, pipe):
        spec = pipe.model.sources[0]
        df = apply_schema(spark.read.parquet(spec.path), spec.schema_)
        eager = apply_constraints(df, spec.schema_)
        counts = eager.counts
        eager.unpersist()
        return counts

    def test_pipeline_counts_ride_the_write(self, spark, jobs_in, tmp_path,
                                            monkeypatch):
        import drune_spark.pipeline as pipeline_mod

        written = []
        real_write = pipeline_mod.write_target

        def capture(spark_, df, spec):
            written.append(df)
            return real_write(spark_, df, spec)

        monkeypatch.setattr(pipeline_mod, "write_target", capture)
        pipe, out = self._pipeline(spark, tmp_path, [])
        pipe.execute()
        plan = written[0]._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in plan
        counts, jobs = jobs_in("dq_pipeline_counts",
                               lambda: pipe.quality["s"].counts)
        assert jobs == []
        assert counts == self._eager_counts(spark, pipe)
        assert spark.read.parquet(out).count() == 3

    def test_run_then_write_counts_ride_the_write(self, spark, jobs_in,
                                                  tmp_path):
        """read → run() → write(): no action fills run()'s cache, so the
        write plans from the source and the counts ride it."""
        pipe, out = self._pipeline(spark, tmp_path, [])
        pipe.read()
        pipe.run()
        pipe.write()
        counts, jobs = jobs_in("dq_run_write_counts",
                               lambda: pipe.quality["s"].counts)
        assert jobs == []
        assert counts == self._eager_counts(spark, pipe)
        assert spark.read.parquet(out).count() == 3

    def test_partial_action_before_write_is_recounted(self, spark, tmp_path):
        pipe, _ = self._pipeline(spark, tmp_path, [])
        pipe.read()
        pipe.run().limit(1).collect()  # resolves the observation on 1 row
        pipe.write()
        assert pipe.quality["s"].counts == self._eager_counts(spark, pipe)

    def test_sql_self_join_counts_once(self, spark, jobs_in, tmp_path):
        pipe, out = self._pipeline(spark, tmp_path, [
            {"name": "pairs", "type": "sql", "params": {
                "query": "SELECT a.col1, b.col2 FROM s a "
                         "JOIN s b ON a.col1 = b.col1"}},
        ])
        pipe.execute()
        assert sorted(r.col1 for r in spark.read.parquet(out).collect()) \
            == [1, 2, 4]
        counts, jobs = jobs_in("dq_self_join_counts",
                               lambda: pipe.quality["s"].counts)
        assert jobs == []
        assert counts == self._eager_counts(spark, pipe)
        assert pipe.quality["s"].failed_total() == 2

    def test_every_source_keeps_its_counts(self, spark, jobs_in, tmp_path):
        """Two sources, only the first with rules: after execute() the
        first source's counts are still readable, equal the eager
        counts and run no job."""
        other = tmp_path / "other"
        spark.createDataFrame([(1, "x")], "k int, v string") \
            .write.parquet(str(other))
        pipe, _ = self._pipeline(spark, tmp_path, [], extra_sources=[{
            "name": "t", "type": "file", "format": "parquet",
            "path": str(other),
            "schema": {"columns": [{"name": "k", "type": "int"}]},
        }])
        pipe.execute()
        assert set(pipe.quality) == {"s", "t"}
        counts, jobs = jobs_in("dq_two_sources",
                               lambda: pipe.quality["s"].counts)
        assert jobs == []
        assert counts == self._eager_counts(spark, pipe)
        assert pipe.quality["t"].counts == {}

    def test_log_sink_keeps_counts_eager(self, spark, tmp_path):
        log_path = str(tmp_path / "failed.parquet")
        pipe, _ = self._pipeline(spark, tmp_path, [],
                                 failed_records_path=log_path)
        pipe.read()
        logged = spark.read.parquet(log_path).collect()
        assert sorted(r.failed_column for r in logged) == ["col1", "col2"]
        assert pipe.quality["s"].failed_total() == 2
        pipe.quality["s"].unpersist()
