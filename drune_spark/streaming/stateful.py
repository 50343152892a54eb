"""Custom stateful streaming operators via applyInPandasWithState.

Demonstrates the arbitrary-stateful-processing path the built-in window
aggregations can't express: per-key mutable state carried across
micro-batches with timeout-based finalization. The example operator is a
per-user running monitor (event count, value sum, max gap between
events) — the shape of real-world sessionizers, rate-limiters, and
online feature extractors.

Scale notes: state lives in the state store keyed by the groupBy key —
one shuffle on user_id per micro-batch; a watermark bounds retained
state; Arrow batches keep the per-key Python work vectorized.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor

OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, max_gap_us bigint"
)
STATE_SCHEMA = "n bigint, total double, last_ts bigint, max_gap bigint"


def _update_user_monitor(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total, last_ts, max_gap = state.get
    else:
        n, total, last_ts, max_gap = 0, 0.0, None, 0
    # A key's micro-batch data may span several Arrow chunks (~10k rows
    # each) with no ordering guarantee across them: concatenate and sort
    # ONCE so processing is chronological within the batch (per-chunk
    # sorting would interleave chunks out of order and corrupt max_gap).
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks).sort_values("ts")
        # Integer microseconds (exact) — float epochs lose ~1e-7 s at
        # 2024 magnitudes, which breaks oracle comparison. Normalize to
        # ns first: Arrow may hand pandas either datetime64[us] or [ns].
        epochs_us = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
        for ts_us, value in zip(epochs_us, pdf["value"]):
            ts_us = int(ts_us)
            if last_ts is None or ts_us >= last_ts:
                if last_ts is not None:
                    max_gap = max(max_gap, ts_us - last_ts)
                last_ts = ts_us
            # else: event older than state's last_ts (late arrival from a
            # previous micro-batch) — counted in n/total, but it can't
            # retroactively define a gap and must not move last_ts
            # backwards.
            n += 1
            total += float(value)
    state.update((n, total, last_ts, max_gap))
    yield pd.DataFrame({
        "user_id": [user_id],
        "n_events": [n],
        "total_value": [round(total, 3)],
        "max_gap_us": [max_gap],
    })


SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_start_us bigint, session_end_us bigint, n_events bigint"
)
SESSION_STATE_SCHEMA = "start_us bigint, last_us bigint, n bigint"


def make_session_updater(gap_us: int):
    """Custom sessionizer for applyInPandasWithState with event-time
    timeouts: a session closes when a later event arrives beyond the gap
    (emitted immediately) OR when the watermark passes last_event+gap
    (emitted via timeout — the late-data-safe path the built-in
    ``session_window`` handles internally). Bounded runs leave each
    user's final session open unless a later batch advances the
    watermark past it.
    """

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        out = []
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            out.append((user_id, start_us, last_us, n))
            state.remove()
            yield pd.DataFrame(
                out, columns=["user_id", "session_start_us",
                              "session_end_us", "n_events"])
            return
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = None
            n = 0
        # Concatenate all Arrow chunks and sort once — per-chunk sorting
        # would process chunks out of chronological order (see
        # _update_user_monitor).
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            both = pd.concat(chunks).sort_values("ts")
            epochs = both["ts"].astype("datetime64[ns]").astype("int64") // 1000
            for ts_us in epochs:
                ts_us = int(ts_us)
                if start_us is None:
                    start_us, last_us, n = ts_us, ts_us, 1
                elif ts_us - last_us >= gap_us:
                    out.append((user_id, start_us, last_us, n))
                    start_us, last_us, n = ts_us, ts_us, 1
                else:
                    # min/max guards: an event late across micro-batches
                    # (older than the open session's bounds, but inside
                    # the gap) merges into the session without moving
                    # last_us backwards.
                    start_us = min(start_us, ts_us)
                    last_us = max(last_us, ts_us)
                    n += 1
        if start_us is not None:
            state.update((start_us, last_us, n))
            # Close via watermark: timeout at last event + gap (epoch ms).
            state.setTimeoutTimestamp((last_us + gap_us) // 1000)
        yield pd.DataFrame(
            out, columns=["user_id", "session_start_us",
                          "session_end_us", "n_events"])

    return update


def sessionize_stream(
    spark: SparkSession,
    events_path: str,
    gap: str = "30 minutes",
    watermark: str = "0 seconds",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful sessionization (the applyInPandasWithState
    equivalent of ``F.session_window``) over a bounded file stream.
    Returns CLOSED sessions (user_id, session_start_us, session_end_us,
    n_events); sessions still open when the stream drains are not
    emitted — by design, they have not ended."""
    from drune_spark.streaming.runner import _raw_stream, drain

    gap_us = int(pd.Timedelta(gap).total_seconds() * 1_000_000)
    stream = _raw_stream(
        spark, events_path,
        options={"maxFilesPerTrigger": str(max_files_per_trigger)}
        if max_files_per_trigger else None,
    ).withWatermark("ts", watermark)
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        make_session_updater(gap_us),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return drain(sessions)


def user_monitor_stream(
    spark: SparkSession,
    events_path: str,
    ts_col: str = "ts",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run the stateful monitor over a (bounded) event stream with
    ``availableNow`` and return the final per-user state.

    ``max_files_per_trigger`` chunks a multi-file dataset into several
    micro-batches (availableNow honors it), which exercises real
    cross-batch state carry — the result must be identical either way.

    Update-mode memory sink: the LAST update per user is the final
    state; we dedup by user keeping the latest emission.
    """
    from pyspark.sql import functions as F

    from drune_spark.streaming.runner import _raw_stream, drain

    stream = _raw_stream(
        spark, events_path,
        options={"maxFilesPerTrigger": str(max_files_per_trigger)}
        if max_files_per_trigger else None,
    )
    monitored = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_monitor,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    updates = drain(monitored, "update")
    # Keep the final (highest n_events) update per user.
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Spark 4 state API v2: transformWithStateInPandas
# ---------------------------------------------------------------------------

TYPE_COUNT_OUTPUT_SCHEMA = (
    "user_id bigint, event_type string, n_events bigint, value_milli bigint"
)


class _TypeCountProcessor(StatefulProcessor):
    """Per-(user, event_type) running counters on Spark 4's arbitrary-
    state API v2 (``transformWithStateInPandas``): typed MapState keyed
    by event_type inside each user's state partition — the composite-key
    state layout the v1 ``applyInPandasWithState`` API (above) can only
    fake by packing dicts into a single state tuple.

    Determinism rule: values are summed as integer millis
    (``floor(v·1000 + 0.5)``) so the running total is order-free and
    engine-exact (the repo-wide money/metric aggregation rule).
    """

    def init(self, handle) -> None:
        self._counts = handle.getMapState(
            "counts", "event_type string", "n bigint, milli bigint"
        )

    def handleInputRows(self, key, rows, timerValues):
        import numpy as np

        (user_id,) = key
        agg: dict[str, tuple[int, int]] = {}
        for pdf in rows:
            if not len(pdf):
                continue
            milli = np.floor(
                pdf["value"].to_numpy(dtype="float64") * 1000.0 + 0.5
            ).astype("int64")
            for et, m in zip(pdf["event_type"], milli):
                c, s = agg.get(et, (0, 0))
                agg[et] = (c + 1, s + int(m))
        out = []
        for et, (c, s) in sorted(agg.items()):
            prev = (
                self._counts.getValue((et,))
                if self._counts.containsKey((et,))
                else (0, 0)
            )
            n, total = int(prev[0]) + c, int(prev[1]) + s
            self._counts.updateValue((et,), (n, total))
            out.append((user_id, et, n, total))
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "event_type", "n_events", "value_milli"],
            )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())

    def handleInitialState(self, key, initialState, timerValues) -> None:
        pass

    def close(self) -> None:
        pass


def type_count_stream(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run the v2-state per-(user, event_type) counter over a bounded
    file stream (availableNow) and return the final counters.

    transformWithStateInPandas requires the RocksDB state store; the
    drain scopes the provider conf to the query (local HDFS-backed
    stores don't support the v2 API's column families).

    Update-mode memory sink: counters are monotone, so the final state
    per (user_id, event_type) is the max-n_events emission.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from drune_spark.streaming.runner import ROCKSDB, _raw_stream, drain

    proc = _TypeCountProcessor()
    stream = _raw_stream(
        spark, events_path,
        options={"maxFilesPerTrigger": str(max_files_per_trigger)}
        if max_files_per_trigger else None,
    )
    counted = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=TYPE_COUNT_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    updates = drain(counted, "update", conf=ROCKSDB)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("n_events").desc()
    )
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
