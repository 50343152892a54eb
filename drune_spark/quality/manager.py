"""Single-pass data-quality engine.

The reference evaluates each rule with two ``df.filter`` + eager
``.count()`` calls per rule per action — recomputing the source lineage
once per rule (reference: engines/spark/steps/validator.py:30-124,
core/quality/quality_manager.py:72-115). At 100 TB that is N full scans.

This engine instead:
1. builds ONE projection that appends every constraint as a boolean flag
   column (narrow; fused into whole-stage codegen),
2. attaches every per-rule failure count to that projection as one
   ``Dataset.observe`` metric set, so the counts are a side effect of
   whichever action first reads the flag frame — normally the target
   write, which has to scan the source anyway (no job of its own);
3. forces that action up front only when the counts are needed before
   the write (``collect_counts=True``: fail rules must abort first, a
   failure-log sink is a second reader): the flag frame is persisted
   and one action fills the cache and resolves the counts,
4. derives warn/drop/fail/set_null behavior from the flags:
   order warn → drop → fail (quality_manager.py:95-113); ``set_null``
   (declared-but-unimplemented in the reference) nulls the offending
   value instead of dropping the row,
5. builds, on first use, one consolidated failure log in the reference's
   fixed schema ``(pipeline_name, validation_rule, failed_column,
   failed_value, log_timestamp, hash_key)`` (validator.py:47-61).

One scan and one shuffle-free flag pass, independent of the number of
rules; zero extra jobs when nothing needs the counts before the write.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from drune_spark.config.models import SchemaSpec
from drune_spark.config.parsers import parse_rules
from drune_spark.quality.rules import RuleRegistry


class ConstraintError(Exception):
    """Raised when any on_fail='fail' constraint has failing rows.

    Carries ``failures`` (the consolidated failure-log DataFrame) and
    ``flagged`` (the persisted flag frame) so the caller can
    write the audit trail BEFORE the pipeline aborts — the reference
    logs failures prior to raising — and then release the cache."""

    failures: Optional[DataFrame] = None
    flagged: Optional[DataFrame] = None


@dataclass
class FlaggedConstraint:
    column: str
    rule_name: str
    rule_string: str
    on_fail: str
    flag_col: str
    params: dict = field(default_factory=dict)


def _flags_for_schema(schema: SchemaSpec) -> list[FlaggedConstraint]:
    flags: list[FlaggedConstraint] = []
    for col in schema.columns:
        for i, cons in enumerate(col.constraints):
            for j, parsed in enumerate(parse_rules(cons.rule)):
                flags.append(FlaggedConstraint(
                    column=col.name,
                    rule_name=parsed["function"],
                    rule_string=cons.rule,
                    on_fail=cons.on_fail,
                    flag_col=f"__dq_{col.name}_{i}_{j}_{parsed['function']}",
                    # Carry the parsed params directly: re-parsing by
                    # function name would return the FIRST occurrence's
                    # params for a rule chain reusing the same function.
                    params=parsed["params"],
                ))
    return flags


def _count_metrics(flags: Sequence[FlaggedConstraint]) -> list[Column]:
    return [F.count_if(~F.col(fc.flag_col)).alias(fc.flag_col) for fc in flags]


class QualityResult:
    """Outcome of ``apply_constraints``.

    ``passed`` holds the rows surviving drop/fail rules, set_null applied.
    ``failures`` (the consolidated failure log, reference schema) is built
    on first access. ``counts`` maps each flag column to its failed-row
    count, read from the flag frame's observation: resolved by the first
    action that reads the flag frame, or by one action of its own when
    read before any did. Streaming results have no counts (``{}``)."""

    def __init__(
        self,
        passed: DataFrame,
        flagged: Optional[DataFrame] = None,
        flags: tuple[FlaggedConstraint, ...] = (),
        observation: Optional[Observation] = None,
        pipeline_name: str = "pipeline",
        persisted: bool = False,
    ):
        self.passed = passed
        self._flagged = flagged
        self._flags = flags
        self._observation = observation
        self._pipeline_name = pipeline_name
        self._persisted = persisted
        self._failures: Optional[DataFrame] = None
        self._counts: Optional[dict[str, int]] = (
            None if observation is not None else {}
        )

    @property
    def failures(self) -> Optional[DataFrame]:
        if self._failures is None and self._flags:
            has_hash = "hash_key" in self._flagged.columns
            self._failures = reduce(DataFrame.unionByName, [
                self._flagged.filter(~F.col(fc.flag_col)).select(
                    F.lit(self._pipeline_name).alias("pipeline_name"),
                    F.lit(fc.rule_string).alias("validation_rule"),
                    F.lit(fc.column).alias("failed_column"),
                    F.col(fc.column).cast("string").alias("failed_value"),
                    F.current_timestamp().alias("log_timestamp"),
                    (F.col("hash_key") if has_hash
                     else F.lit(None).cast("string")).alias("hash_key"),
                )
                for fc in self._flags
            ])
        return self._failures

    @property
    def counts(self) -> dict[str, int]:
        if not self.take_observed():
            # No action has read the flag frame yet, or the one that did
            # reported no metrics (a SQL-text collect): run one.
            self._resolve()
        return self._counts

    def _resolve(self) -> None:
        self._flagged.count()
        if not self.take_observed():
            raise RuntimeError("constraint counts did not resolve")

    def take_observed(self) -> bool:
        """Take the counts from the observation if it has resolved; runs
        no job. Write commands report their metrics through the listener
        bus, so drain it once before concluding nothing resolved them."""
        if self._counts is not None:
            return True
        done = self._observation._jo.future().isCompleted
        if not done():
            sc = self._flagged.sparkSession.sparkContext
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            if not done():
                return False
        got = self._observation.get
        self._counts = {fc.flag_col: int(got[fc.flag_col]) for fc in self._flags}
        return True

    def observed_early(self) -> bool:
        """Whether an action already fixed this deferred result's counts:
        it may have read only part of the flag frame (``show``, ``limit``).
        No wait, no job."""
        return (not self._persisted and self._observation is not None
                and (self._counts is not None
                     or self._observation._jo.future().isCompleted()))

    def recount(self) -> None:
        """Replace the counts with a fresh observation's, resolved by one
        action over the whole flag frame."""
        self._observation = Observation()
        self._flagged = self._flagged.observe(
            self._observation, *_count_metrics(self._flags))
        self._counts = None
        self._resolve()

    def failed_total(self) -> int:
        return sum(self.counts.values())

    def unpersist(self) -> None:
        """Release the persisted flag frame once passed/failures have been
        materialized (written or collected). Re-using them afterwards
        recomputes from source — correct, just not cached."""
        if self._persisted:
            self._flagged.unpersist()


def _passed(flagged: DataFrame, flags: list[FlaggedConstraint]) -> DataFrame:
    # set_null: null the offending value, keep the row. Rules on one
    # column compose: the value survives only if every flag holds.
    keep: dict[str, Column] = {}
    for fc in flags:
        if fc.on_fail == "set_null":
            flag = F.col(fc.flag_col)
            keep[fc.column] = keep[fc.column] & flag if fc.column in keep else flag
    out = flagged
    if keep:
        out = out.withColumns(
            {c: F.when(ok, F.col(c)) for c, ok in keep.items()})
    # drop + fail rules remove failing rows from the output (fail rules
    # have already aborted when counts were collected).
    removing = [F.col(fc.flag_col) for fc in flags if fc.on_fail in ("drop", "fail")]
    if removing:
        out = out.filter(reduce(lambda a, b: a & b, removing))
    return out.drop(*[fc.flag_col for fc in flags])


def apply_constraints(
    df: DataFrame,
    schema: SchemaSpec,
    pipeline_name: str = "pipeline",
    collect_counts: bool = True,
) -> QualityResult:
    """Flag, count and filter ``df`` by ``schema``'s constraints.

    ``collect_counts=True`` persists the flag frame and runs one action
    that fills the cache and resolves the counts, then raises
    ``ConstraintError`` if a fail rule has failures. With ``False``
    nothing runs here: the counts resolve on the first action that reads
    the flag frame (or on first access of ``counts``), and fail rules
    only filter. Streaming frames never count."""
    flags = _flags_for_schema(schema)
    if not flags:
        return QualityResult(passed=df)

    # NULL-safe: a rule evaluating to NULL (NULL input to a
    # comparison/isin/pattern) is a FAILURE, not a silent drop — it
    # must be counted, logged, and honored by on_fail just like an
    # explicit False. (not_null itself never yields NULL.)
    flagged = df.withColumns({
        fc.flag_col: F.coalesce(
            RuleRegistry.get(fc.rule_name)(fc.column, fc.params), F.lit(False))
        for fc in flags
    })

    # Observation is batch-only: each micro-batch is its own plan.
    observation = None
    persisted = False
    if not flagged.isStreaming:
        observation = Observation()
        flagged = flagged.observe(observation, *_count_metrics(flags))
        if collect_counts:
            # Counts are needed before the write, and passed/failures
            # read the flag frame again: cache it in the same action.
            flagged = flagged.persist()
            persisted = True
            flagged.count()

    result = QualityResult(passed=_passed(flagged, flags), flagged=flagged,
                           flags=tuple(flags), observation=observation,
                           pipeline_name=pipeline_name, persisted=persisted)

    # Fail rules abort the pipeline if anything failed. The failure
    # frame and persisted flag frame ride on the exception so the
    # caller can write the audit log first, then unpersist.
    if persisted:
        counts = result.counts
        for fc in flags:
            if fc.on_fail == "fail" and counts[fc.flag_col] > 0:
                err = ConstraintError(
                    f"constraint '{fc.rule_string}' on '{fc.column}' failed "
                    f"for {counts[fc.flag_col]} rows"
                )
                err.failures = result.failures
                err.flagged = flagged
                raise err

    return result
