"""End-to-end pipeline + golden test + CLI + DDL tests, using the example
project (the reference's customer pipeline re-homed —
reference: examples/pipelines/customer/model.yml, examples/data/customer.csv)."""

import os
import shutil

import pytest
from click.testing import CliRunner

from drune_spark.pipeline import GoldenTestFailure, Pipeline, Project

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROJECT_DIR = os.path.join(REPO, "examples", "project")
# target.path is a directory → the writer lands at <dir>/<name>.<format>
OUT = "/tmp/drune_spark_example/dm_customer.parquet"


@pytest.fixture()
def clean_out():
    shutil.rmtree("/tmp/drune_spark_example", ignore_errors=True)
    yield
    shutil.rmtree("/tmp/drune_spark_example", ignore_errors=True)


class TestProjectPipeline:
    def test_customer_pipeline_end_to_end(self, spark, clean_out, monkeypatch):
        monkeypatch.chdir(REPO)
        proj = Project(PROJECT_DIR, spark=spark)
        pipe = proj.pipeline("customer")
        pipe.execute()

        out = spark.read.parquet(OUT)
        # row 4 (null customer_id) dropped by the not_null/drop constraint +
        # filter step; nu_document excluded by inheritance; ds_login derived.
        assert out.count() == 3
        cols = set(out.columns)
        assert "nu_document" not in cols
        assert {"cd_customer", "nm_first_name", "nm_last_name", "ds_email",
                "ds_login", "hash_key", "updated_at", "created_at"} <= cols
        row = {r.cd_customer: r for r in out.collect()}
        assert row[1].nm_first_name == "JOHN"          # trimmed + uppered
        assert row[1].ds_email == "john.doe@example.com"  # lowered
        assert row[1].ds_login == "example.com"
        assert row[2].ds_login == "mail.org"

    def test_profile_overlay(self, spark):
        proj = Project(PROJECT_DIR, profile="prod", spark=spark)
        opts = proj.defaults.engine.options
        assert opts["spark.sql.shuffle.partitions"] == "256"

    def test_golden_test_mode(self, spark, clean_out, monkeypatch):
        monkeypatch.chdir(REPO)
        proj = Project(PROJECT_DIR, spark=spark)
        pipe = proj.pipeline("customer")
        pipe.read()
        result = pipe.run()
        expected = result  # self-comparison must pass
        pipe.golden_test(expected, actual=result)
        # and a mutated expectation must fail
        with pytest.raises(GoldenTestFailure):
            pipe.golden_test(result.filter("cd_customer != 1"), actual=result)

    def test_dynamic_source_path(self, spark, tmp_path, monkeypatch):
        monkeypatch.chdir(REPO)
        alt = tmp_path / "alt.csv"
        alt.write_text("customer_id,first_name,last_name,email,document\n"
                       "9,Zed,Zara,z@z.io,99\n")
        proj = Project(PROJECT_DIR, spark=spark)
        pipe = proj.pipeline("customer")
        pipe.read(src_paths={"customer_raw": str(alt)})
        result = pipe.run()
        rows = result.collect()
        assert len(rows) == 1 and rows[0].cd_customer == 9


class TestCli:
    def test_cli_run(self, spark, clean_out, monkeypatch):
        monkeypatch.chdir(REPO)
        from drune_spark import cli as cli_mod

        runner = CliRunner()
        result = runner.invoke(
            cli_mod.cli, ["run", "customer", "--project", PROJECT_DIR]
        )
        assert result.exit_code == 0, result.output
        assert "completed" in result.output
        assert spark.read.parquet(OUT).count() == 3

    def test_cli_golden_test_command(self, spark, tmp_path, monkeypatch):
        """`drune-spark test`: run the pipeline on its test source data
        and diff against the expected table (exceptAll both ways)."""
        from drune_spark import cli as cli_mod

        proj = tmp_path / "proj"
        (proj / "pipelines" / "p1").mkdir(parents=True)
        (proj / "drune.yml").write_text(
            "name: goldenproj\ndefaults:\n  engine: {name: spark}\n"
            "  paths: {pipelines: pipelines}\n")
        src = tmp_path / "in.csv"
        src.write_text("a,b\n1,x\n2,y\n")
        expected_dir = str(tmp_path / "expected")
        (proj / "pipelines" / "p1" / "pipeline.yml").write_text(f"""
pipeline_name: p1
sources:
  - name: s
    type: file
    format: csv
    path: {src}
    options: {{header: "true"}}
    schema:
      columns:
        - name: a
          type: int
        - name: b
          type: str
target:
  name: out
  type: file
  path: {tmp_path}/never_written
test:
  expected: {expected_dir}
""")
        spark.createDataFrame([(1, "x"), (2, "y")], ["a", "b"]) \
            .write.parquet(expected_dir)
        runner = CliRunner()
        result = runner.invoke(cli_mod.cli, ["test", "p1", "--project", str(proj)])
        assert result.exit_code == 0, result.output
        assert "golden test passed" in result.output
        # mutate the input -> diff detected
        src.write_text("a,b\n1,x\n99,zz\n")
        bad = runner.invoke(cli_mod.cli, ["test", "p1", "--project", str(proj)])
        assert bad.exit_code != 0

    def test_cli_validate_good_and_bad(self, tmp_path):
        """`drune-spark validate`: config-only check, no execution — a
        valid pipeline passes, bad rule/step/target configs are each
        reported with exit code 1, and no SparkSession is required."""
        from drune_spark import cli as cli_mod

        proj = tmp_path / "proj"
        (proj / "pipelines" / "good").mkdir(parents=True)
        (proj / "drune.yml").write_text(
            "name: vproj\ndefaults:\n  engine: {name: spark}\n"
            "  paths: {pipelines: pipelines}\n")
        good_yaml = """
pipeline_name: good
sources:
  - name: s
    type: file
    format: csv
    path: /tmp/nonexistent.csv
    schema:
      columns:
        - name: a
          type: int
          constraints:
            - rule: "isbetween:[0, 10]"
              on_fail: drop
steps:
  - name: f
    type: filter
    params: {where: "a > 0"}
target:
  name: out
  type: file
  path: /tmp/out
"""
        (proj / "pipelines" / "good" / "pipeline.yml").write_text(good_yaml)
        runner = CliRunner()
        ok = runner.invoke(cli_mod.cli, ["validate", "good",
                                         "--project", str(proj)])
        assert ok.exit_code == 0, ok.output
        assert "ok good" in ok.output

        (proj / "pipelines" / "bad").mkdir(parents=True)
        (proj / "pipelines" / "bad" / "pipeline.yml").write_text(
            good_yaml.replace("pipeline_name: good", "pipeline_name: bad")
                     .replace("isbetween:[0, 10]", "no_such_rule:[1]")
                     .replace("type: filter", "type: no_such_step")
        )
        bad = runner.invoke(cli_mod.cli, ["validate", "bad",
                                          "--project", str(proj)])
        assert bad.exit_code == 1
        assert "no_such_rule" in bad.output and "no_such_step" in bad.output

        # No name -> validates all; the bad one fails the run.
        both = runner.invoke(cli_mod.cli, ["validate", "--project", str(proj)])
        assert both.exit_code == 1
        assert "ok good" in both.output and "INVALID bad" in both.output

        # Broken YAML shape (pydantic) is also caught, not a traceback.
        (proj / "pipelines" / "shape").mkdir(parents=True)
        (proj / "pipelines" / "shape" / "pipeline.yml").write_text(
            "pipeline_name: shape\nsources: {not: a_list}\n")
        shape = runner.invoke(cli_mod.cli, ["validate", "shape",
                                            "--project", str(proj)])
        assert shape.exit_code == 1
        assert "INVALID shape" in shape.output

    def test_cli_init(self, tmp_path):
        from drune_spark import cli as cli_mod

        runner = CliRunner()
        target = str(tmp_path / "newproj")
        result = runner.invoke(cli_mod.cli, ["init", target])
        assert result.exit_code == 0
        assert os.path.exists(os.path.join(target, "drune.yml"))
        # init twice → clean error
        again = runner.invoke(cli_mod.cli, ["init", target])
        assert again.exit_code != 0


class TestDdl:
    def test_create_exists_update(self, spark, tmp_path):
        from drune_spark.catalog.ddl import (
            MetadataRegistry,
            build_create_ddl,
            table_exists,
        )
        from drune_spark.config.models import (
            ColumnSpec, ConstraintSpec, SchemaSpec, TargetSpec,
        )

        spark.sql("DROP TABLE IF EXISTS ddl_demo")
        spec = TargetSpec(
            name="d", type="table", table_name="ddl_demo", format="parquet",
            schema=SchemaSpec(
                primary_key=["k"],
                columns=[
                    ColumnSpec(name="k", type="long",
                               constraints=[ConstraintSpec(rule="not_null")],
                               comment="the key"),
                    ColumnSpec(name="v", type="str"),
                ],
            ),
        )
        ddl = build_create_ddl(spec)
        assert "`k` BIGINT NOT NULL COMMENT 'the key'" in ddl
        assert "'framework.primary_keys' = 'k'" in ddl

        meta = MetadataRegistry.get("spark_catalog", spark)
        meta.create(spec)
        assert table_exists(spark, "ddl_demo")
        assert meta.exists("ddl_demo")

        spec.schema_.columns.append(ColumnSpec(name="extra", type="double"))
        stmts = meta.update(spec)
        assert stmts and "ADD COLUMNS" in stmts[0]
        assert "extra" in {f.name for f in meta.get("ddl_demo").fields}
        assert meta.update(spec) == []  # idempotent
        spark.sql("DROP TABLE ddl_demo")


class TestCorpusPrepPipeline:
    def test_declarative_corpus_prep_chain(self, spark, tmp_path):
        """clean → dedup → decontaminate → mix → chunk expressed entirely
        as YAML-style steps; each stage delegates to the tested operator."""
        from drune_spark.config.models import PipelineModel
        from drune_spark.pipeline import Pipeline

        model = {
            "pipeline_name": "corpus_prep",
            "sources": [
                {"name": "docs", "type": "file", "format": "parquet",
                 "path": "/root/testdata/sf0.001/documents.parquet"},
                {"name": "eval_docs", "type": "sql",
                 "query": "SELECT * FROM docs WHERE doc_id % 17 = 0"},
            ],
            "steps": [
                {"name": "corpus", "type": "filter",
                 "params": {"source": "docs",
                            "where": "doc_id % 17 <> 0"}},
                {"name": "clean", "type": "quality_filter",
                 "params": {"text_col": "text", "id_col": "doc_id"}},
                {"name": "dedup", "type": "dedup",
                 "params": {"text_col": "text", "id_col": "doc_id"}},
                {"name": "decon", "type": "decontaminate",
                 "params": {"benchmark": "eval_docs", "text_col": "text",
                            "id_col": "doc_id", "min_shared": 4}},
                {"name": "mix", "type": "corpus_mix",
                 "params": {"source_col": "source", "key_col": "doc_id",
                            "weights": {"src0": 2.0},
                            "default_weight": 1.0}},
                {"name": "chunks", "type": "chunk",
                 "params": {"text_col": "text", "id_col": "doc_id",
                            "chunk_size": 32, "overlap": 8}},
            ],
            "target": {"name": "prep_out", "type": "file",
                       "format": "parquet",
                       "path": str(tmp_path / "out"), "mode": "overwrite"},
        }
        p = Pipeline(spark, PipelineModel.model_validate(model))
        p.execute()
        out = spark.read.parquet(str(tmp_path / "out" / "prep_out.parquet"))
        assert out.count() > 0
        assert set(out.columns) == {"doc_id", "chunk_id",
                                    "n_chunk_tokens", "chunk_text"}
        # eval docs were excluded before prep and src0 upsampling happened
        assert out.filter("doc_id % 17 = 0").count() == 0


class TestRunHoldsStepOutput:
    """``Pipeline.run()`` persists the step output it returns, coalesced
    as an uncached read would be, and ``write()`` releases it."""

    CONF = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

    def _pipeline(self, spark, tmp_path, name):
        from drune_spark.config.models import PipelineModel

        src = tmp_path / "docs"
        if not src.exists():
            self._corpus(src)
        out = str(tmp_path / f"{name}.parquet")
        model = PipelineModel.model_validate({
            "pipeline_name": name,
            "sources": [{"name": "documents", "type": "file",
                         "format": "parquet", "path": str(src)}],
            "steps": [
                {"name": "scrub", "type": "redact",
                 "params": {"text_col": "text"}},
                {"name": "quality_gate", "type": "quality_filter",
                 "params": {"text_col": "text", "id_col": "doc_id"}},
                {"name": "exact_dedup", "type": "dedup",
                 "params": {"text_col": "text", "id_col": "doc_id"}},
            ],
            "target": {"name": name, "type": "file", "format": "parquet",
                       "path": out, "mode": "overwrite"},
        })
        return Pipeline(spark, model), str(src), out

    @staticmethod
    def _corpus(path):
        """48 documents of 40 random words in 4 part files: every fifth
        carries an email address, 6 repeat earlier ones and 2 repeat one
        phrase (the quality gate drops those)."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(7)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = ["".join(rng.choice(letters, rng.integers(3, 8)))
                 for _ in range(2000)]
        texts = [" ".join(rng.choice(vocab, 40)) for _ in range(40)]
        texts = [f"{t} user{i}@example.com" if i % 5 == 0 else t
                 for i, t in enumerate(texts)]
        texts += texts[:6] + [" ".join(["the same three words"] * 12)] * 2
        path.mkdir()
        for k in range(4):
            ids = list(range(k, len(texts), 4))
            pq.write_table(
                pa.table({"doc_id": pa.array(ids, pa.int64()),
                          "text": [texts[i] for i in ids]}),
                path / f"part-{k}.parquet")

    @staticmethod
    def _persisted(spark):
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    @staticmethod
    def _scans(spark, jobs, n_rows):
        """Stages among ``jobs`` that read all ``n_rows`` source rows: a
        read of the cache counts one record per cached batch."""
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        return sum(
            store.lastStageAttempt(sid).inputRecords() >= n_rows
            for j in jobs for sid in sc.statusTracker().getJobInfo(j).stageIds
        )

    def test_step_chain_runs_once_and_writes_as_execute(
            self, spark, tmp_path, jobs_in):
        import glob

        pipe, src, out = self._pipeline(spark, tmp_path, "cached")
        n_rows = spark.read.parquet(src).count()
        persisted, conf = self._persisted(spark), spark.conf.get(self.CONF)

        def flow():
            pipe.read()
            docs = pipe.run()
            assert spark.conf.get(self.CONF) == conf
            docs.count()
            pipe.target_df = docs.join(docs.select("doc_id"), "doc_id",
                                       "left_semi")
            pipe.write()

        _, jobs = jobs_in("run_holds_step_output", flow)
        assert self._scans(spark, jobs, n_rows) == 1
        assert self._persisted(spark) == persisted
        assert spark.conf.get(self.CONF) == conf

        plain, _, plain_out = self._pipeline(spark, tmp_path, "plain")
        plain.execute()

        def parts(path):
            return len(glob.glob(f"{path}/part-*.parquet"))

        assert parts(out) == parts(plain_out)
        rows = [sorted(map(tuple, spark.read.parquet(p).collect()))
                for p in (out, plain_out)]
        assert rows[0] == rows[1] and rows[0]

    def test_write_only_result_is_written_from_source(
            self, spark, tmp_path, monkeypatch):
        """read → run() → write() with no action between: the write
        plans from the source and never fills the cache."""
        import drune_spark.pipeline as pipeline_mod

        written = []
        real_write = pipeline_mod.write_target

        def capture(spark_, df, spec):
            written.append(df._jdf.queryExecution().optimizedPlan().toString())
            return real_write(spark_, df, spec)

        monkeypatch.setattr(pipeline_mod, "write_target", capture)
        pipe, _, out = self._pipeline(spark, tmp_path, "write_only")
        persisted = self._persisted(spark)
        pipe.read()
        pipe.run()
        pipe.write()
        assert "InMemoryRelation" not in written[0]
        assert self._persisted(spark) == persisted
        assert spark.read.parquet(out).count() > 0

    def test_unwritten_result_does_not_serve_a_later_read(
            self, spark, tmp_path):
        """A held, filled result over files rewritten in place (same file
        names) must not serve a second pipeline's read of them."""
        import glob

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        first, src, _ = self._pipeline(spark, tmp_path, "first")
        first.read()
        first.run().count()
        for part in sorted(glob.glob(f"{src}/part-*.parquet")):
            table = pq.read_table(part)
            pq.write_table(table.filter(pc.less(table["doc_id"], 24)), part)
        second, _, out = self._pipeline(spark, tmp_path, "second")
        second.execute()
        ids = [r.doc_id for r in spark.read.parquet(out).collect()]
        assert ids and max(ids) < 24
        assert first.target_df is not None  # still alive, still unwritten

    @pytest.mark.parametrize(
        "end", ["read", "reset", "run", "golden_test", "drop", "failed_write"])
    def test_unwritten_run_result_is_released(self, spark, tmp_path, end,
                                              monkeypatch):
        import gc

        import drune_spark.pipeline as pipeline_mod

        pipe, _, _ = self._pipeline(spark, tmp_path, "replaced")
        persisted = self._persisted(spark)
        pipe.read()
        docs = pipe.run()
        docs.count()
        assert self._persisted(spark) == persisted + 1
        if end == "golden_test":
            pipe.golden_test(docs)
        elif end == "run":
            # a second run() holds its own result in place of the first
            pipe.run().count()
            persisted += 1
        elif end == "failed_write":
            def fail(*_):
                raise OSError("disk full")

            monkeypatch.setattr(pipeline_mod, "write_target", fail)
            with pytest.raises(OSError):
                pipe.write()
        elif end == "drop":
            # collecting the pipeline releases what it held
            del pipe
            gc.collect()
        else:
            getattr(pipe, end)()
        assert self._persisted(spark) == persisted


class TestAnalyticsSteps:
    def test_profile_histogram_percentile_steps_chain(self, spark):
        from drune_spark.config.models import StepConfig
        from drune_spark.operators.registry import StepRunner
        import drune_spark.operators.llm_steps  # noqa: F401
        from pyspark.sql import functions as F

        df = spark.range(100).select(
            (F.col("id") % 4).alias("grp"),
            F.col("id").cast("double").alias("v"),
        )
        prof = StepRunner(spark).run(
            [StepConfig(name="p", type="profile", params={"source": "t"})],
            {"t": df}, None,
        )
        assert {r.col for r in prof.collect()} == {"grp", "v"}
        hist = StepRunner(spark).run(
            [StepConfig(name="h", type="histogram",
                        params={"source": "t", "column": "v",
                                "n_buckets": 4})],
            {"t": df}, None,
        )
        assert sum(r.n for r in hist.collect()) == 100
        pct = StepRunner(spark).run(
            [StepConfig(name="q", type="percentiles",
                        params={"source": "t", "column": "v",
                                "group_by": ["grp"],
                                "percentiles": [0.5]})],
            {"t": df}, None,
        )
        assert pct.count() == 4

    def test_bm25_and_zorder_steps(self, spark):
        from drune_spark.config.models import StepConfig
        from drune_spark.operators.registry import StepRunner
        import drune_spark.operators.llm_steps  # noqa: F401

        docs = spark.createDataFrame(
            [(0, "hash join"), (1, "scan sort")],
            "doc_id long, text string",
        )
        hits = StepRunner(spark).run(
            [StepConfig(name="s", type="bm25",
                        params={"source": "d",
                                "queries": [["q1", ["hash"]]]})],
            {"d": docs}, None,
        )
        assert [r.doc_id for r in hits.collect()] == [0]
        z = StepRunner(spark).run(
            [StepConfig(name="z", type="zorder",
                        params={"source": "d", "columns": ["doc_id"],
                                "bits": 4})],
            {"d": docs}, None,
        )
        assert "zval" in z.columns and z.count() == 2


class TestCorpusExamplePipeline:
    def test_cli_runs_llm_steps_chain(self, spark, monkeypatch):
        """The examples/project `corpus` pipeline: redact →
        quality_filter → dedup → chunk declaratively over the sf0.001
        documents table — the LLM-step surface consumed the way a
        drune user would."""
        monkeypatch.chdir(REPO)
        import shutil
        from drune_spark import cli as cli_mod

        out = "/tmp/drune_spark_example_corpus"
        shutil.rmtree(out, ignore_errors=True)
        runner = CliRunner()
        result = runner.invoke(
            cli_mod.cli, ["run", "corpus", "--project", PROJECT_DIR]
        )
        assert result.exit_code == 0, result.output
        chunks = spark.read.parquet(f"{out}/dm_corpus_chunks.parquet")
        assert chunks.count() > 0
        assert set(chunks.columns) >= {
            "doc_id", "chunk_id", "n_chunk_tokens", "chunk_text"}
        import pyspark.sql.functions as SF
        assert chunks.agg(
            SF.max("n_chunk_tokens")).collect()[0][0] <= 64
        # dedup ran: chunk doc_ids are unique per (doc, chunk)
        assert chunks.select("doc_id", "chunk_id").distinct().count() \
            == chunks.count()


class TestPretrainExamplePipeline:
    def test_cli_runs_span_corrupt_chain(self, spark, monkeypatch):
        """The examples/project `pretrain` pipeline: token_screen →
        dedup → domain_mix → span_corrupt → pack declaratively — the
        round-8 denoising and learned-mixture stages inside one step
        chain."""
        monkeypatch.chdir(REPO)
        import shutil
        from drune_spark import cli as cli_mod

        out = "/tmp/drune_spark_example_pretrain"
        shutil.rmtree(out, ignore_errors=True)
        runner = CliRunner()
        result = runner.invoke(
            cli_mod.cli, ["run", "pretrain", "--project", PROJECT_DIR]
        )
        assert result.exit_code == 0, result.output
        seqs = spark.read.parquet(f"{out}/dm_pretrain_sequences.parquet")
        assert seqs.count() > 0
        assert set(seqs.columns) >= {
            "doc_id", "n_tokens", "pack_group", "seq_id"}
        import pyspark.sql.functions as SF
        # packing grouped into the declared 8 hash groups
        assert seqs.agg(SF.max("pack_group")).collect()[0][0] <= 7
