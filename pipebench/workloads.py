"""The three benchmark workloads, each driven through the public
``Project``/``Pipeline`` API.

A workload knows how to prepare its targets at set-up, how to put them
back before a pass (untimed), how to run one pass (timed), which input
bytes a pass reads (the base of ``write_amp``) and which reference check
its output must pass.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any

from pyspark.sql import functions as F

from drune_spark import Project
from drune_spark.operators.dedup import connected_components, minhash_lsh_pairs


@dataclass
class Context:
    project: Project
    manifest: dict[str, Any]
    data_dir: str
    out_dir: str


def _clear(path: str) -> None:
    for p in (path, path + ".__prev__", path + ".__new__"):
        shutil.rmtree(p, ignore_errors=True)


class MedallionEtl:
    """Silver lineitem/orders with typed columns and constraints, joined,
    filtered and aggregated into a gold table written by fresh overwrite."""

    name = "medallion_etl"
    pipelines = ("silver_gold",)
    # The JIT keeps speeding passes up for several passes: driver-side
    # work (planning, py4j, job scheduling) is about half of a pass here.
    warmup_passes = 4

    def target(self, ctx: Context) -> str:
        return os.path.join(ctx.out_dir, "gold", "order_revenue.parquet")

    def prepare(self, ctx: Context) -> None:
        pass

    def restore(self, ctx: Context) -> None:
        _clear(self.target(ctx))

    def run_pass(self, ctx: Context) -> None:
        ctx.project.pipeline("silver_gold").execute()

    def input_bytes(self, ctx: Context) -> int:
        t = ctx.manifest["tables"]
        return t["lineitem"]["bytes"] + t["orders"]["bytes"]

    def check_args(self, ctx: Context) -> dict[str, Any]:
        return {"data_dir": ctx.data_dir, "target": self.target(ctx)}


class CorpusDedup:
    """redact -> quality_filter -> exact dedup as YAML steps, then MinHash
    LSH pairs and connected components; each cluster keeps its minimum id."""

    name = "corpus_dedup"
    pipelines = ("corpus",)
    # The third pass already runs at the steady pace, and each warm-up
    # costs about 5 s of the run budget.
    warmup_passes = 2

    def target(self, ctx: Context) -> str:
        return os.path.join(ctx.out_dir, "corpus_clean.parquet")

    def prepare(self, ctx: Context) -> None:
        pass

    def restore(self, ctx: Context) -> None:
        _clear(self.target(ctx))

    def run_pass(self, ctx: Context) -> None:
        p = ctx.project.pipeline("corpus")
        p.read()
        docs = p.run()
        pairs = minhash_lsh_pairs(docs, "text", "doc_id", portable=True,
                                  min_est_jaccard=0.5)
        clusters = connected_components(pairs, docs.select("doc_id"))
        keep = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
        p.target_df = docs.join(keep, "doc_id", "left_semi")
        p.write()

    def input_bytes(self, ctx: Context) -> int:
        return ctx.manifest["tables"]["documents"]["bytes"]

    def check_args(self, ctx: Context) -> dict[str, Any]:
        m = ctx.manifest
        return {
            "target": self.target(ctx),
            "documents": m["tables"]["documents"]["path"],
            **{k: m[k] for k in ("exact_groups", "near_groups", "low_quality", "pii")},
        }


class IncrementalMerge:
    """A fixed sequence of change batches applied to a keyed dimension by
    a ``mode: merge`` pipeline and an ``scd: {type: 2}`` pipeline. Both
    targets start each pass from the base state written at set-up."""

    name = "incremental_merge"
    pipelines = ("dim_merge", "dim_scd2")
    warmup_passes = 2
    _targets = {"dim_merge": "customer_dim.parquet", "dim_scd2": "customer_hist.parquet"}

    def _paths(self, ctx: Context) -> dict[str, tuple[str, str]]:
        base = os.path.join(os.path.dirname(ctx.out_dir), "base_state")
        return {p: (os.path.join(ctx.out_dir, f), os.path.join(base, f))
                for p, f in self._targets.items()}

    def prepare(self, ctx: Context) -> None:
        """Write the base state through the pipelines themselves (first
        write of each target), then keep a copy to restore from."""
        for name, (target, saved) in self._paths(ctx).items():
            _clear(target)
            ctx.project.pipeline(name).execute()
            shutil.rmtree(saved, ignore_errors=True)
            shutil.copytree(target, saved)

    def restore(self, ctx: Context) -> None:
        for target, saved in self._paths(ctx).values():
            _clear(target)
            shutil.copytree(saved, target)

    def run_pass(self, ctx: Context) -> None:
        for batch in ctx.manifest["batches"]:
            path = ctx.manifest["tables"][batch["name"]]["path"]
            for name in self.pipelines:
                p = ctx.project.pipeline(name)
                p.read({"changes": path})
                p.run()
                p.write()

    def input_bytes(self, ctx: Context) -> int:
        t = ctx.manifest["tables"]
        return sum(t[b["name"]]["bytes"] for b in ctx.manifest["batches"])

    def check_args(self, ctx: Context) -> dict[str, Any]:
        paths = self._paths(ctx)
        m = ctx.manifest
        return {
            "base": m["tables"]["base"]["path"],
            "batches": [m["tables"][b["name"]]["path"] for b in m["batches"]],
            "updates": sum(b["updates"] for b in m["batches"]),
            "merge_target": paths["dim_merge"][0],
            "scd2_target": paths["dim_scd2"][0],
        }


WORKLOADS = {w.name: w for w in (MedallionEtl(), CorpusDedup(), IncrementalMerge())}
