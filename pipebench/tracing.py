"""Traced-run mode: per-layer spans taken from outside the program.

Each wrapper replaces one public function in the namespace that calls
it (``drune_spark.pipeline.read_source``, ``StepRunner.run``, ...),
records a span around the call and sets a Spark job group for its
duration, so every job is charged to the layer whose call triggered it.
A recomputed upstream plan is therefore charged to the action that
re-ran it. Spans, and the jobs charged to them, stay in memory and are
written to `.pipebench_out/spans-<workload>-seed<seed>.json` when the run
ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import asdict, dataclass
from typing import Any, Callable, Optional

import drune_spark.pipeline as pipeline_mod
from drune_spark.operators.registry import StepRunner
from drune_spark.pipeline import Project
from drune_spark.sinks.writers import _file_path

import workloads

LAYERS = ("config", "sources", "plans", "quality", "operators", "sinks")

# (layer, owner, attribute): the name a wrapper replaces.
TARGETS = (
    ("config", Project, "load_pipeline_model"),
    ("sources", pipeline_mod, "read_source"),
    ("plans", pipeline_mod, "apply_schema"),
    ("plans", pipeline_mod, "add_hash_key"),
    ("plans", pipeline_mod, "add_data_hash"),
    ("plans", pipeline_mod, "add_audit_columns"),
    ("quality", pipeline_mod, "apply_constraints"),
    ("operators", StepRunner, "run"),
    ("operators", workloads, "minhash_lsh_pairs"),
    ("operators", workloads, "connected_components"),
    ("sinks", pipeline_mod, "write_target"),
)

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"
MB = 1e6


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start: float
    end: float
    parent: Optional[int]
    pass_id: int
    cpu_s: float = 0.0
    files: int = 0
    self_s: float = 0.0
    jobs: int = 0
    task_s: float = 0.0


def _count_files(path: str) -> int:
    return sum(
        1 for _, _, names in os.walk(path)
        for n in names if n.endswith(".parquet") and not n.startswith(".")
    )


def plan_seconds(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s own
    QueryExecution (planning forced here if the write did not)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total_ms += opt.get().durationMs()
    return total_ms / 1000.0


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._originals: list[tuple[Any, str, Any]] = []
        self._pass_id = -1
        self._sink_frames: list[Any] = []
        self.jobs: list[dict[str, Any]] = []

    # -- patching ------------------------------------------------------------
    def install(self) -> None:
        for layer, owner, attr in TARGETS:
            fn = getattr(owner, attr)
            self._originals.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(layer, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._originals):
            setattr(owner, attr, fn)
        self._originals = []

    def _set_group(self, group: Optional[str], desc: Optional[str]) -> None:
        self._sc.setLocalProperty(_GROUP, group)
        self._sc.setLocalProperty(_DESC, desc)

    def _wrap(self, layer: str, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            span_id = len(self.spans)
            span = Span(span_id, name, layer, 0.0, 0.0,
                        self._stack[-1] if self._stack else None, self._pass_id)
            self.spans.append(span)
            prev = (self._sc.getLocalProperty(_GROUP), self._sc.getLocalProperty(_DESC))
            self._set_group(f"pb:{span_id}", f"{layer}:{name}")
            self._stack.append(span_id)
            c0, span.start = time.process_time(), time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                span.end, span.cpu_s = time.time(), time.process_time() - c0
                self._stack.pop()
                self._set_group(*prev)
                if layer == "sinks":
                    df, spec = args[1], args[2]
                    self._sink_frames.append(df)
                    span.files = _count_files(_file_path(spec))
        return traced

    # -- passes ----------------------------------------------------------------
    def begin_pass(self, pass_id: int) -> None:
        self._pass_id = pass_id
        self._sink_frames = []
        self._set_group(f"pb:pass{pass_id}", "outside")

    def end_pass(self) -> list[Any]:
        self._set_group(None, None)
        frames, self._sink_frames = self._sink_frames, []
        return frames

    def layer_metrics(self, pass_id: int, start: float, end: float, batch,
                      plan_s: float) -> dict[str, float]:
        """Per-layer metrics of one traced pass from its spans and jobs."""
        spans = [s for s in self.spans if s.pass_id == pass_id]
        by_id = {s.span_id: s for s in spans}
        self.jobs += [{"pass_id": pass_id, **asdict(j)} for j in batch.jobs]
        for s in spans:
            s.self_s = s.end - s.start
            mine = [j for j in batch.jobs if j.group == f"pb:{s.span_id}"]
            s.jobs, s.task_s = len(mine), sum(j.run_s for j in mine)
        for s in spans:
            if s.parent is not None and s.parent in by_id:
                by_id[s.parent].self_s -= s.end - s.start
        m: dict[str, float] = {}
        for layer in LAYERS:
            mine = [s for s in spans if s.layer == layer]
            ids = {f"pb:{s.span_id}" for s in mine}
            jobs = [j for j in batch.jobs if j.group in ids]
            m[f"{layer}.s"] = sum(s.self_s for s in mine)
            m[f"{layer}.jobs"] = len(jobs)
            m[f"{layer}.task_s"] = sum(j.run_s for j in jobs)
            m[f"{layer}.shuffle_mb"] = sum(j.shuffle_bytes for j in jobs) / MB
            m[f"{layer}.written_mb"] = sum(j.output_bytes for j in jobs) / MB
            m[f"{layer}.cpu_s"] = sum(
                s.cpu_s for s in mine
                if s.parent is None or by_id[s.parent].layer != layer)
            m[f"{layer}.files"] = sum(s.files for s in mine)
        wall = end - start
        m["trace.pass_s"] = wall
        m["trace.outside_s"] = wall - sum(s.end - s.start for s in spans if s.parent is None)
        durations = [1000.0 * (j.end - j.start) for j in batch.jobs]
        m["spark.jobs"] = len(batch.jobs)
        m["spark.tasks"] = sum(j.tasks for j in batch.jobs)
        m["spark.job_ms_p50"] = statistics.median(durations) if durations else 0.0
        m["spark.idle_s"] = wall - batch.busy_s(start, end)
        m["catalyst.plan_s"] = plan_s
        return m

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], "jobs": self.jobs}, fh)
