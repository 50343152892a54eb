"""Spark job and stage counts, read from the Spark driver's status REST API.

Counts are read only after the listener bus has drained, so every job
of a pass is complete in the status store before it is summed. Each
``take()`` returns the jobs (and the stages they ran) that appeared
since the previous call, so a caller brackets one pass with two calls.
"""

from __future__ import annotations

import json
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Optional


def _epoch(ts: Optional[str]) -> Optional[float]:
    if not ts:
        return None
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


@dataclass
class Job:
    job_id: int
    group: Optional[str]
    start: float
    end: float
    tasks: int             # tasks actually run (skipped stages excluded)
    run_s: float = 0.0     # summed executor task run time of its stages
    cpu_s: float = 0.0     # summed executor task CPU time of its stages
    shuffle_bytes: int = 0
    output_bytes: int = 0


@dataclass
class Batch:
    jobs: list[Job] = field(default_factory=list)

    @property
    def task_s(self) -> float:
        return sum(j.run_s for j in self.jobs)

    @property
    def cpu_s(self) -> float:
        return sum(j.cpu_s for j in self.jobs)

    @property
    def shuffle_bytes(self) -> int:
        return sum(j.shuffle_bytes for j in self.jobs)

    @property
    def output_bytes(self) -> int:
        return sum(j.output_bytes for j in self.jobs)

    def busy_s(self, lo: float, hi: float) -> float:
        """Length of the union of job intervals, clipped to [lo, hi]."""
        spans = sorted((max(j.start, lo), min(j.end, hi)) for j in self.jobs)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total


class JobLedger:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._base = (f"{self._sc.uiWebUrl}/api/v1/applications/"
                      f"{self._sc.applicationId}")
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[tuple[int, int]] = set()
        self.take()

    def _get(self, path: str) -> Any:
        with urllib.request.urlopen(self._base + path, timeout=60) as resp:
            return json.load(resp)

    def drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def take(self) -> Batch:
        """Drain the listener bus, then return every job not returned before."""
        self.drain()
        jobs = [j for j in self._get("/jobs") if j["jobId"] not in self._seen_jobs]
        if not jobs:
            return Batch()
        stages = {(s["stageId"], s["attemptId"]): s for s in self._get("/stages")}
        by_stage: dict[int, list[dict]] = {}
        for key, s in stages.items():
            by_stage.setdefault(key[0], []).append(s)
        out = Batch()
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            self._seen_jobs.add(j["jobId"])
            job = Job(
                job_id=j["jobId"],
                group=j.get("jobGroup"),
                start=_epoch(j.get("submissionTime")) or 0.0,
                end=_epoch(j.get("completionTime")) or 0.0,
                tasks=j["numTasks"] - j.get("numSkippedTasks", 0),
            )
            # A stage belongs to the first job that ran it; later jobs
            # that reuse its shuffle output list it as skipped.
            for sid in j["stageIds"]:
                for s in by_stage.get(sid, []):
                    key = (sid, s["attemptId"])
                    if key in self._seen_stages or s["status"] == "SKIPPED":
                        continue
                    self._seen_stages.add(key)
                    job.run_s += s["executorRunTime"] / 1000.0
                    job.cpu_s += s["executorCpuTime"] / 1e9
                    job.shuffle_bytes += s["shuffleWriteBytes"]
                    job.output_bytes += s["outputBytes"]
            out.jobs.append(job)
        return out
