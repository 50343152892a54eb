"""Pipeline orchestrator — the Gen-2 lifecycle on Spark (SURVEY §3.1).

``Project`` loads ``drune.yml`` (profiles deep-merged), ``Pipeline``
loads a *directory* of YAML files merged key-wise (reference:
core/pipeline.py:34-49,172-192 — merge order is sorted-filename,
last-writer-wins per key, made deterministic here), then:

read → apply_schema → constraints → steps → write

All phases compose one lazy Catalyst plan, and the final write is its
only action: constraint counts ride that write as observed metrics. A
source runs one earlier action (filling its flag-frame cache) only when
it has a fail rule, which must abort before anything is written, or
when a failure-log sink reads its flag frame too. ``run(stop_at=...)``
supports breakpointed execution and re-entry (step_manager.py:54-99).
"""

from __future__ import annotations

import glob
import os
from typing import Any, Optional

import yaml
from pyspark.sql import DataFrame, SparkSession

from drune_spark.config.models import (
    PipelineModel,
    ProjectModel,
    VOLATILE_COLUMNS,
    deep_merge,
    interpolate_vars,
)
from drune_spark.operators import steps as _steps  # noqa: F401 — register step types
from drune_spark.operators import llm_steps as _llm_steps  # noqa: F401 — corpus-prep steps
from drune_spark.operators.registry import StepRunner
from drune_spark.plans.schema_apply import (
    add_audit_columns,
    add_data_hash,
    add_hash_key,
    apply_schema,
)
from drune_spark.quality.manager import (
    ConstraintError,
    QualityResult,
    apply_constraints,
)
from drune_spark.sources.readers import read_source
from drune_spark.sinks.writers import (
    log_sink_kind, write_target, write_validation_log,
)


class GoldenTestFailure(AssertionError):
    pass


def _merge_yaml_dir(path: str) -> dict[str, Any]:
    files = sorted(glob.glob(os.path.join(path, "*.yml"))
                   + glob.glob(os.path.join(path, "*.yaml")))
    if not files:
        raise FileNotFoundError(f"no YAML files under {path}")
    merged: dict[str, Any] = {}
    for f in files:
        with open(f) as fh:
            doc = yaml.safe_load(fh) or {}
        merged = deep_merge(merged, doc)
    return merged


class Project:
    def __init__(self, project_dir: str, profile: Optional[str] = None,
                 spark: Optional[SparkSession] = None):
        self.project_dir = project_dir
        cfg_path = next(
            (os.path.join(project_dir, n) for n in ("drune.yml", "drune.yaml")
             if os.path.exists(os.path.join(project_dir, n))),
            None,
        )
        if cfg_path is None:
            raise FileNotFoundError(f"no drune.yml in {project_dir}")
        with open(cfg_path) as fh:
            self.model = ProjectModel.model_validate(yaml.safe_load(fh))
        self.defaults = self.model.merge_defaults(profile)
        self._spark = spark

    @property
    def spark(self) -> SparkSession:
        """Lazy: config-only operations (``drune validate``) must not pay
        JVM startup — the session materializes on first execution use."""
        if self._spark is None:
            from drune_spark.session import get_spark
            self._spark = get_spark(self.model.name,
                                    options=self.defaults.engine.options)
        return self._spark

    def pipeline_names(self) -> list[str]:
        pipelines_dir = self.defaults.paths.get("pipelines", "pipelines")
        root = os.path.join(self.project_dir, pipelines_dir)
        if not os.path.isdir(root):
            return []
        return sorted(
            n for n in os.listdir(root)
            if os.path.isdir(os.path.join(root, n))
        )

    def load_pipeline_model(self, name: str) -> PipelineModel:
        """Config load + validation only — no SparkSession, no execution."""
        pipelines_dir = self.defaults.paths.get("pipelines", "pipelines")
        pdir = os.path.join(self.project_dir, pipelines_dir, name)
        raw = _merge_yaml_dir(pdir)
        # Fold project-level type/source/target defaults under pipeline defaults.
        raw.setdefault("defaults", {})
        raw["defaults"] = deep_merge(
            {
                "types": {k: v.model_dump() for k, v in self.defaults.types.items()},
                "sources": self.defaults.sources,
                "targets": self.defaults.targets,
            },
            raw["defaults"],
        )
        raw = _interpolate(raw, self.defaults.vars)
        return PipelineModel.model_validate(raw)

    def pipeline(self, name: str) -> "Pipeline":
        model = self.load_pipeline_model(name)
        return Pipeline(self.spark, model,
                        failed_records_path=self.model.logging.failed_records_path)


def _interpolate(node: Any, vars_: dict[str, Any]) -> Any:
    if isinstance(node, dict):
        return {k: _interpolate(v, vars_) for k, v in node.items()}
    if isinstance(node, list):
        return [_interpolate(v, vars_) for v in node]
    if isinstance(node, str):
        return interpolate_vars(node, vars_)
    return node


class Pipeline:
    def __init__(self, spark: SparkSession, model: PipelineModel,
                 failed_records_path: Optional[str] = None):
        self.spark = spark
        self.model = model
        self.failed_records_path = failed_records_path
        self.runner = StepRunner(spark)
        self.sources: dict[str, DataFrame] = {}
        self.target_df: Optional[DataFrame] = None
        # every constrained source's result, by source name: write() takes
        # its counts and releases its flag-frame cache, if it has one
        self.quality: dict[str, QualityResult] = {}

    def reset(self) -> None:
        self.runner.reset()
        self.sources = {}
        self.target_df = None
        self.quality = {}

    # -- read phase ----------------------------------------------------------
    def read(self, src_paths: Optional[dict[str, str]] = None) -> "Pipeline":
        src_paths = src_paths or {}
        for replaced in self.quality.values():
            replaced.unpersist()
        self.quality = {}
        for spec in self.model.sources:
            df = read_source(self.spark, spec, src_paths.get(spec.name))
            if spec.schema_ is not None:
                df = apply_schema(df, spec.schema_)
                if spec.schema_.primary_key:
                    df = add_hash_key(df, spec.schema_.primary_key)
                # Counts up front only when they gate the run (fail rules
                # abort before the write) or a failure-log sink is a
                # second reader of the flag frame; otherwise they ride
                # the target write.
                eager = bool(self._log_sink()) or any(
                    c.on_fail == "fail"
                    for col in spec.schema_.columns for c in col.constraints
                )
                try:
                    quality = apply_constraints(
                        df, spec.schema_, pipeline_name=self.model.pipeline_name,
                        collect_counts=eager,
                    )
                except ConstraintError as err:
                    # Write the audit trail before aborting (the
                    # reference logs failures prior to raising).
                    self._write_failure_log(err.failures)
                    if err.flagged is not None:
                        err.flagged.unpersist()
                    raise
                self.quality[spec.name] = quality
                if self._log_sink() and quality.failed_total() > 0:
                    self._write_failure_log(quality.failures)
                df = quality.passed
            self.sources[spec.name] = df
            # Dependency views (Q1): later type='sql' sources and SQL
            # chain steps can reference every earlier source by name.
            df.createOrReplaceTempView(spec.name)
        if self.model.sources:
            # Target starts as the first source (core/pipeline.py:116).
            self.target_df = self.sources[self.model.sources[0].name]
        return self

    def _log_sink(self) -> Optional[str]:
        return self.model.validation_log_table or self.failed_records_path

    def _write_failure_log(self, failures: Optional[DataFrame]) -> None:
        sink = self._log_sink()
        if failures is not None and sink:
            write_validation_log(self.spark, failures, sink)

    # -- step phase ----------------------------------------------------------
    def run(self, stop_at: Optional[str] = None) -> Optional[DataFrame]:
        self.target_df = self.runner.run(
            self.model.steps, self.sources, self.target_df, stop_at
        )
        return self.target_df

    # -- write phase ---------------------------------------------------------
    def write(self) -> None:
        if self.model.target is None or self.target_df is None:
            raise RuntimeError("nothing to write: no target config or no data")
        tgt = self.model.target
        df = self.target_df
        if tgt.schema_ is not None and tgt.schema_.columns:
            df = apply_schema(df, tgt.schema_)
            if tgt.schema_.primary_key:
                df = add_hash_key(df, tgt.schema_.primary_key)
        if tgt.scd is not None and tgt.scd.type == 2:
            track = tgt.scd.track_columns or [
                c for c in df.columns
                if c not in ("hash_key",) and c not in VOLATILE_COLUMNS
            ]
            df = add_data_hash(df, track)
        if tgt.schema_ is not None and tgt.schema_.primary_key:
            df = add_audit_columns(df)
        early = [q.observed_early() for q in self.quality.values()]
        write_target(self.spark, df, tgt)
        for quality, stale in zip(self.quality.values(), early):
            # An action before the write may have read only part of the
            # flag frame (show, limit) and fixed partial counts.
            if stale:
                quality.recount()
            else:
                quality.take_observed()
            quality.unpersist()

    def execute(self, src_paths: Optional[dict[str, str]] = None) -> None:
        self.read(src_paths)
        self.run()
        self.write()

    # -- streaming execution (SURVEY §2.12, additive) ------------------------
    def execute_streaming(self, checkpoint_dir: Optional[str] = None) -> None:
        """Run the SAME declarative pipeline as a Structured Streaming job:
        file sources become file streams, the schema-apply projection and
        narrow steps run per micro-batch, and the target is written
        through ``writeStream``.

        Batch/stream differences, by design:
        - constraints evaluate as flag columns per micro-batch, but eager
          failure COUNTS (and therefore on_fail='fail' aborts) are a
          batch-only concept — streaming drops/set_nulls rows, and when a
          ``validation_log_table``/failed-records path is configured the
          failure rows stream into it as an append sink;
        - steps must be stream-capable (filter/sql projections, stateless
          joins against static frames — plus aggregations when the
          target's mode is 'merge', which upserts each micro-batch's
          changed keys via foreachBatch); other blocking ops raise at
          plan time;
        - ``availableNow`` drains current data then stops, which makes a
          backfill use the exact code path of the live stream. Both
          queries run through ``streaming.runner.drain``, the failure log
          first and the target second, as the batch path writes them;
          ``checkpoint_dir`` (the log's is ``checkpoint_dir + "_failures"``)
          keeps their checkpoints, else temporary ones are removed.
        """
        from drune_spark.quality.manager import apply_constraints
        from drune_spark.streaming.runner import _raw_stream, drain

        if self.model.target is None or self.model.target.path is None:
            raise RuntimeError("streaming execution needs a file target")

        streams: dict[str, DataFrame] = {}
        failure_streams: list[DataFrame] = []
        for spec in self.model.sources:
            if spec.type != "file":
                raise RuntimeError(
                    f"streaming source '{spec.name}' must be a file source"
                )
            if spec.format == "parquet":
                df = _raw_stream(
                    self.spark, spec.path,
                    options={k: str(v) for k, v in spec.options.items()}
                    if spec.options else None,
                )
            else:
                reader = self.spark.readStream.format(spec.format)
                static = read_source(self.spark, spec)
                reader = reader.schema(static.schema)
                if spec.options:
                    reader = reader.options(
                        **{k: str(v) for k, v in spec.options.items()}
                    )
                df = reader.load(spec.path)
            if spec.schema_ is not None:
                df = apply_schema(df, spec.schema_)
                if spec.schema_.primary_key:
                    df = add_hash_key(df, spec.schema_.primary_key)
                quality = apply_constraints(
                    df, spec.schema_, pipeline_name=self.model.pipeline_name,
                    collect_counts=False,
                )
                df = quality.passed
                if quality.failures is not None:
                    failure_streams.append(quality.failures)
            streams[spec.name] = df

        current = streams[self.model.sources[0].name] if self.model.sources else None
        current = self.runner.run(self.model.steps, streams, current)

        # Constraint-failure rows stream into the configured audit sink
        # (their own checkpoint; same exactly-once semantics).
        log_sink = self._log_sink()
        if failure_streams and log_sink:
            failures = failure_streams[0]
            for frame in failure_streams[1:]:
                failures = failures.unionByName(frame)
            kind = log_sink_kind(log_sink)

            def start_log(w):
                if kind == "table":
                    # Table-name sinks stream via toTable — previously
                    # these rows were silently dropped (round-1 advisory).
                    return w.toTable(log_sink)
                return (w.format(kind).option("header", "true")
                        .option("path", log_sink).start())

            drain(failures, sink=start_log,
                  checkpoint=checkpoint_dir and checkpoint_dir + "_failures")

        tgt = self.model.target
        from drune_spark.sinks.writers import _file_path
        if tgt.mode == "merge":
            # Stateful (aggregating) pipelines: file sinks are append-only,
            # so update-mode results upsert per micro-batch through
            # foreachBatch + merge_upsert — each batch's changed keys merge
            # into the target on the schema's primary key (hash_key when
            # composite/absent). The standard Spark pattern for streaming
            # aggregations into non-update sinks.
            from drune_spark.sinks.writers import merge_upsert

            pk = (tgt.schema_.primary_key if tgt.schema_ else None) or []
            key = pk[0] if len(pk) == 1 else "hash_key"

            def _upsert(batch_df: DataFrame, _batch_id: int) -> None:
                merge_upsert(self.spark, batch_df, tgt, key=key)

            drain(current, "update",
                  sink=lambda w: w.foreachBatch(_upsert).start(),
                  checkpoint=checkpoint_dir)
        else:
            drain(current,
                  sink=lambda w: w.format(tgt.format)
                  .option("path", _file_path(tgt)).start(),
                  checkpoint=checkpoint_dir)

    # -- golden test mode (O5) ----------------------------------------------
    def golden_test(self, expected: DataFrame,
                    actual: Optional[DataFrame] = None) -> None:
        """Reference equality: schema ==, count ==, exceptAll both ways
        empty, volatile columns dropped (spark_engine.py:206-230)."""
        if actual is None:
            actual = self.target_df
        if actual is None:
            raise RuntimeError("no result to test")
        a = actual.drop(*VOLATILE_COLUMNS)
        e = expected.drop(*VOLATILE_COLUMNS)
        if sorted(a.columns) != sorted(e.columns):
            raise GoldenTestFailure(f"schema mismatch: {a.columns} vs {e.columns}")
        a = a.select(*sorted(a.columns))
        e = e.select(*sorted(e.columns))
        n_a, n_e = a.count(), e.count()
        if n_a != n_e:
            raise GoldenTestFailure(f"row count {n_a} != {n_e}")
        extra = a.exceptAll(e)
        missing = e.exceptAll(a)
        n_extra, n_missing = extra.count(), missing.count()
        if n_extra or n_missing:
            raise GoldenTestFailure(
                f"{n_extra} unexpected rows, {n_missing} missing rows; "
                f"sample unexpected: {extra.limit(5).collect()}"
            )
