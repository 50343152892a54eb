"""Structured Streaming execution of declarative pipelines (SURVEY §2.12).

The reference has zero streaming support; this is the additive extension:
the same declarative ops run as micro-batch streams. Patterns:

- file-stream source with explicit schema (streams cannot infer),
- event-time tumbling windows + watermark for late data,
- ``trigger(availableNow=True)`` drains everything currently available
  then stops — which makes a streaming job batch-equivalent and lets the
  DuckDB oracle check it exactly,
- every query in the package runs through ``drain`` (below): it scopes
  the session conf, owns the checkpoint, runs the availableNow trigger
  and, by default, reads the result back from a memory sink whose temp
  view it drops again, so a call leaves no view, conf or checkpoint
  behind. Other sinks (``foreachBatch``, a file path, ``toTable``) are a
  caller hook that starts the query; production would use kafka/delta
  sinks with durable checkpoints (the ``writeStream`` options are the
  only difference). Per-micro-batch progress and observed metrics of
  every run attach in this one place.

At scale the stateful window agg shuffles by (window, key); watermarks
bound the state store size, and ``availableNow`` backfills historical
data with the same code path as the live stream.
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil
import tempfile
import time
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drune_spark.session import session_conf
from drune_spark.sources.readers import _event_time, _nanos_columns

# Shuffle partitions of every drained query: each one owns a state-store
# instance, and store open/commit overhead dominates small-to-medium
# streams (32 stores ≈ 7.5s vs 8 ≈ 1.3s for the sf0.1 window query). A
# real deployment sizes this to active-key cardinality / executor count.
STATE_PARTITIONS = 8

# The RocksDB state store: state spills to local SST files instead of
# living on the JVM heap. transformWithStateInPandas requires it.
ROCKSDB = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
}

_memory_sinks = itertools.count()


def drain(
    stream: DataFrame,
    mode: str = "append",
    sink=None,
    checkpoint: str | None = None,
    conf: dict[str, str] | None = None,
) -> DataFrame | None:
    """Run ``stream`` once with ``trigger(availableNow=True)`` — every
    row available now, then stop — and return its result.

    The query runs with ``STATE_PARTITIONS`` shuffle partitions plus
    ``conf``, all restored afterwards, and checkpoints to a temporary
    directory removed afterwards unless ``checkpoint`` names one (a
    restart resumes from it). ``sink`` is ``None`` for a memory sink:
    the result frame is bound before its temp view is dropped, so the
    rows live exactly as long as the frame. Otherwise ``sink`` takes the
    configured ``DataStreamWriter``, starts the query
    (``foreachBatch``, a file path, ``toTable``) and returns it; drain
    then returns ``None``. No query is left active, also on an error.
    """
    spark = stream.sparkSession
    scoped = {
        "spark.sql.shuffle.partitions": str(STATE_PARTITIONS),
        **(conf or {}),
    }
    with session_conf(spark, scoped), ExitStack() as scratch:
        writer = (
            stream.writeStream.outputMode(mode)
            .option(
                "checkpointLocation",
                checkpoint
                or scratch.enter_context(tempfile.TemporaryDirectory()),
            )
            .trigger(availableNow=True)
        )
        name = None
        if sink is None:
            name = f"drune_drain_{next(_memory_sinks)}"
            query = writer.format("memory").queryName(name).start()
        else:
            query = sink(writer)
        try:
            query.awaitTermination()
            return spark.table(name) if name else None
        finally:
            query.stop()
            if name:
                spark.catalog.dropTempView(name)


def _pin_order(batches: list[list[str]]) -> None:
    """FileStreamSource takes files in (mtime, path) order: give batch
    ``b``'s files an mtime 100 s after batch ``b - 1``'s, so a drain
    with ``maxFilesPerTrigger=1`` reads them in list order."""
    now = time.time()
    for b, paths in enumerate(batches):
        for p in paths:
            os.utime(p, (now - 600 + 100 * b,) * 2)


def _write_splits(
    df: DataFrame, key: str, n_splits: int, path: str, cols: list[str]
) -> None:
    """Write ``cols`` of ``df`` as one file per ``path/sp=<b>``
    directory, ``b = key % n_splits`` (ONE partitioned write — separate
    filtered writes cost a scan job each), with the files pinned to
    drain in ``b`` order."""
    (
        df.withColumn("sp", F.pmod(key, F.lit(n_splits)))
        .repartition(n_splits, "sp")
        .select(*cols, "sp")
        .write.mode("overwrite")
        .partitionBy("sp")
        .parquet(path)
    )
    _pin_order([
        glob.glob(os.path.join(path, f"sp={b}", "*"))
        for b in range(n_splits)  # an empty split writes no directory
    ])


def _raw_stream(
    spark: SparkSession,
    events_path: str,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """File-stream source over parquet, with the timestamp rules of
    ``read_parquet_nanos_safe``: nanos columns stream as longs
    (nanosAsLong) and convert in-stream, naive ones cast from NTZ (which
    ``withWatermark`` rejects). File-stream sources take a directory; a
    single-file path streams from its parent with a glob filter on the
    basename.
    """
    nanos_cols = _nanos_columns(events_path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(spark.read.parquet(events_path).schema)
    for key, value in (options or {}).items():
        reader = reader.option(key, value)
    if os.path.isdir(events_path):
        stream = reader.parquet(events_path)
    else:
        stream = (
            reader.option("pathGlobFilter", os.path.basename(events_path))
            .parquet(os.path.dirname(events_path))
        )
    return _event_time(stream, nanos_cols)


def windowed_event_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "1 day",
    ts_col: str = "ts",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, SLIDING/hopping) window counts +
    exact (decimal) value sums per event_type. A sliding window
    assigns each event to window/slide overlapping windows — the
    alerting shape ("2h failure count, refreshed hourly"); state-store
    rows scale by the overlap factor, which is why production slides
    are small multiples, not window≫slide.

    Returns the completed result as a static DataFrame with
    (window_start_ms, event_type, n_events, total_value).
    """
    stream = _raw_stream(spark, events_path).withWatermark(ts_col, watermark)
    win = (
        F.window(ts_col, window, slide) if slide
        else F.window(ts_col, window)
    )
    agg = (
        stream.groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,3)")).alias("total_dec"),
        )
    )
    return drain(agg, "complete").select(
        F.unix_millis(F.col("window.start")).alias("window_start_ms"),
        "event_type",
        "n_events",
        F.col("total_dec").cast("double").alias("total_value"),
    )


def stream_static_enrich(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    on: tuple[str, str],
    group_cols: list[str],
) -> DataFrame:
    """Stream-static enrichment join + grouped aggregation.

    The canonical streaming-ETL shape: a micro-batch stream joins a
    STATIC dimension (no watermark needed on the dim — Spark re-plans it
    per batch, and broadcasts it when small), then aggregates. At scale
    the dim is broadcast once per executor per batch; only the grouped
    cells hit the state store. ``availableNow`` drains the backlog with
    the identical plan a live stream runs, which is what lets the batch
    oracle verify it exactly.

    Returns (group_cols..., n_events, total_value) as a static frame.
    """
    stream_col, dim_col = on
    stream = _raw_stream(spark, events_path)
    joined = stream.join(F.broadcast(dim), stream[stream_col] == dim[dim_col])
    agg = joined.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,3)")).alias("total_dec"),
    )
    return drain(agg, "complete").select(
        *group_cols,
        "n_events",
        F.col("total_dec").cast("double").alias("total_value"),
    )


def stream_stream_join(
    spark: SparkSession,
    events_path: str,
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "2 hours",
    watermark: str = "1 day",
    how: str = "inner",
) -> DataFrame:
    """Stream-STREAM join with an event-time range condition — the
    attribution join (click → purchase within the horizon), Spark's
    flagship stateful operator: both sides buffer rows in the state
    store, and the watermark + time-bound condition let Spark evict a
    buffered row once no future match can arrive (state is bounded by
    horizon + watermark, not by stream length).

    Inner joins emit exactly the matched pairs, so draining with
    ``availableNow`` is batch-equivalent and the DuckDB oracle checks
    it row-for-row. ``how="left_outer"`` adds the abandoned-funnel
    rows (clicks that never converted) null-padded — emitted only when
    the watermark proves no match can still arrive, which makes the
    result CLOSED-FORM under an availableNow drain: all data lands in
    one batch (watermark still 0), the trailing no-data batch then
    holds wm = min(max left ts, max right ts) − delay, so the emitted
    null rows are exactly the unmatched left rows with
    ``l_ts + horizon < wm``; unmatched left rows inside the horizon of
    stream end stay in state, unemitted (the session_window open-tail
    argument, applied to joins). Pass ``watermark="0 seconds"`` for the
    oracle gate so the cutoff needs no delay arithmetic.

    At 100 TB the join shuffles both streams by user_id once; per-key
    state is (clicks + purchases within horizon), which the time
    condition keeps small; outer emission adds no state — eviction and
    null-emission are the same scan.

    Returns (user_id, l_id, r_id, gap_us) as a static frame; gap_us is
    the integer µs from left event to right event (0 ≤ gap ≤ horizon;
    NULL on outer null-padded rows).
    """
    base = _raw_stream(spark, events_path)
    left = (
        base.filter(F.col("event_type") == left_type)
        .select(
            "user_id",
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_id"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        _raw_stream(spark, events_path)
        .filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.expr(f"l_ts + INTERVAL {horizon}")),
        how,
    )
    out = joined.select(
        "user_id",
        "l_id",
        "r_id",
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("gap_us"),
    )
    return drain(out)


def streamed_distinct(
    spark: SparkSession,
    events_path: str,
) -> DataFrame:
    """Streaming deduplication: first-seen (event_type, day) pairs via
    ``dropDuplicates`` in append mode — the at-least-once-delivery
    dedup stage every streaming ingest needs in front of its sinks.

    The key set here is calendar-bounded (types × days), so unbounded
    dedup state is exact AND small; for unbounded keys (message ids)
    production swaps in ``dropDuplicatesWithinWatermark``, trading
    exactness outside the watermark horizon for bounded state — that
    variant can't be batch-oracle-checked (results depend on arrival
    order vs watermark), which is why the gate runs this one.
    ``availableNow`` drains the backlog through the identical plan a
    live stream runs. Output is the distinct key set: arrival order
    decides which physical row is FIRST seen, so only the (exact,
    order-free) keys are emitted.
    """
    stream = _raw_stream(spark, events_path).select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    dd = stream.dropDuplicates(["event_type", "day"])
    return drain(dd)


def session_window_counts(
    spark: SparkSession,
    events_path: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """NATIVE ``session_window`` streaming aggregation — Spark's
    built-in merging-window sessionizer (vs. the custom
    applyInPandasWithState sessionizer in streaming/stateful.py, which
    exists for by-event session closes the built-in can't express).
    Semantics (probed, pinned by the oracle): an event MERGES into the
    session when its gap from the previous event is ≤ the gap duration
    (boundary-inclusive); session end = last event + gap.

    Append mode emits a session once the event-time watermark passes
    its end; with a zero watermark delay the drain finalizes every
    session except those ending within ``gap`` of the global max event
    time — exactly the still-open sessions a live stream would also
    hold in state. The oracle states the same cutoff in closed form,
    so the gate checks the streaming-visible result exactly.

    At 100 TB sessions shuffle by user once; state per key = open
    sessions only, watermark-evicted as they finalize.

    Returns (user_id, session_start_ms, session_end_ms, n_events,
    total_value).
    """
    stream = _raw_stream(spark, events_path).withWatermark("ts", "0 seconds")
    agg = (
        stream.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,3)")).alias("total_dec"),
        )
    )
    return drain(agg).select(
        "user_id",
        F.unix_millis(F.col("session_window.start")).alias(
            "session_start_ms"),
        F.unix_millis(F.col("session_window.end")).alias("session_end_ms"),
        "n_events",
        F.col("total_dec").cast("double").alias("total_value"),
    )


def streamed_distinct_within_watermark(
    spark: SparkSession,
    events_path: str,
    delay: str = "5 hours",
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — the UNBOUNDED-key streaming
    dedup (message-id shape): state for a key is kept only until the
    event-time watermark passes its event time + delay, so state is
    bounded by delay × arrival rate instead of growing with stream
    length. The trade: a duplicate arriving after the horizon is
    re-admitted.

    ``streamed_distinct`` (above) documents why the general case can't
    be batch-oracle-checked: re-admission depends on arrival order vs
    watermark. This gate makes it deterministic by CONSTRUCTION — it
    synthesizes a 4-micro-batch input (``maxFilesPerTrigger=1`` over
    mtime-ordered parquet files) with a per-batch "clock" row driving
    the watermark on a fixed schedule. Spark evicts dedup state at the
    END of a batch using that batch's watermark, so the schedule leaves
    one watermark-advance-only batch between first-seen and the late
    duplicate: batch 0 seeds every key at hour 1 (expiry 1h+5h = 6h);
    batch 1's duplicates at hour 11 are SUPPRESSED (watermark 5h <
    expiry); batch 2 is clock-only and its end-of-batch eviction runs
    at watermark 15h > expiry — state gone; batch 3's duplicates at
    hour 31 are RE-ADMITTED (watermark 25h, not late). Margins are ≥6h
    around every boundary, measured against the observed per-batch
    watermarks, so no eviction edge condition can flip a row. Key set =
    distinct ``event_type`` of the input; key idx%3 picks the scenario
    (0: dup-suppressed, 1: dup-re-admitted, 2: no dup).

    Returns (event_type, ts_hour) of every EMITTED row: scenario-1 keys
    yield two rows (hours 1 and 31), all others one row (hour 1) — a
    closed form the DuckDB oracle states directly.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    HOUR_US = 3_600_000_000
    types = sorted(
        r[0]
        for r in spark.read.parquet(events_path)
        .select("event_type").distinct().collect()
    )  # key universe: tiny dimension-sized driver list, not data rows
    batches: list[list[tuple[str, int]]] = [
        [(t, 1 * HOUR_US) for t in types] + [("__clock", 10 * HOUR_US)],
        [(t, 11 * HOUR_US) for i, t in enumerate(types) if i % 3 == 0]
        + [("__clock", 20 * HOUR_US)],
        [("__clock", 30 * HOUR_US)],  # advances wm; end-of-batch evict
        [(t, 31 * HOUR_US) for i, t in enumerate(types) if i % 3 == 1]
        + [("__clock", 40 * HOUR_US)],
    ]

    with tempfile.TemporaryDirectory(prefix="drune_dedup_wm_") as in_dir:
        paths = [os.path.join(in_dir, f"b{b}.parquet")
                 for b in range(len(batches))]
        for path, rows in zip(paths, batches):
            pq.write_table(
                pa.table({
                    "event_type": [r[0] for r in rows],
                    "ts_us": pa.array(
                        [r[1] for r in rows], type=pa.int64()
                    ),
                }),
                path,
            )
        _pin_order([[p] for p in paths])
        stream = (
            spark.readStream.schema("event_type string, ts_us bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .withColumn("ts", F.timestamp_micros("ts_us"))
            .withWatermark("ts", delay)
            .dropDuplicatesWithinWatermark(["event_type"])
        )
        # The memory sink holds rows driver-side — the input dir can go.
        out = drain(stream)
    return out.filter(F.col("event_type") != "__clock").select(
        "event_type",
        F.expr("ts_us div 3600000000").alias("ts_hour"),
    )


def stream_upsert(
    spark: SparkSession,
    events_path: str,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Streaming upsert sink via foreachBatch — the stream→MERGE
    pattern (each micro-batch merges into a keyed state table instead
    of appending): final state holds each user's LAST event.

    The merge is last-wins by the total order (ts_us, event_id), and
    each batch re-reduces the union of (existing state, batch), so the
    final table is a pure function of the input regardless of how the
    availableNow drain splits micro-batches — that is what makes the
    gate batch-exact. With a Delta/Iceberg sink the re-reduce becomes
    a keyed MERGE (sinks/writers.py merge_upsert fast path) touching
    only changed keys; the parquet fallback rewrites state, which is
    keys-sized, not events-sized.

    Returns the final state (user_id, last_ts_us, last_event_id,
    last_type).
    """
    from pyspark.sql import Window

    stream = _raw_stream(spark, events_path, options).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.col("event_type").alias("last_type"),
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        unioned = batch_df
        if os.path.exists(state_path):  # none before the first batch
            unioned = batch_df.unionByName(
                batch_df.sparkSession.read.parquet(state_path))
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts_us").desc(), F.col("event_id").desc()
        )
        reduced = (
            unioned.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn")
        )
        # state is keys-sized; write to a temp dir (the read side of
        # this batch still points at state_path) then swap with a
        # filesystem rename — the old shape re-READ the temp dir and
        # re-WROTE it through Spark, paying a second full write job
        # per micro-batch for bytes that were already on disk.
        tmp_out = state_path + f".b{batch_id}"
        reduced.write.mode("overwrite").parquet(tmp_out)
        shutil.rmtree(state_path, ignore_errors=True)
        os.rename(tmp_out, state_path)

    with tempfile.TemporaryDirectory(prefix="drune_stream_upsert_") as d:
        state_path = os.path.join(d, "state.parquet")
        drain(stream, sink=lambda w: w.foreachBatch(merge_batch).start())
        # Materialize the final state driver-side (keys-sized): the
        # returned frame must not lazily read from the removed dir.
        rows = spark.read.parquet(state_path).collect()
    from drune_spark.functions.partitioning import local_frame
    out = local_frame(
        spark,
        rows,
        "user_id bigint, ts_us bigint, event_id bigint, "
        "last_type string",
    )
    return out.select(
        "user_id",
        F.col("ts_us").alias("last_ts_us"),
        F.col("event_id").alias("last_event_id"),
        "last_type",
    )


def stream_anti_filter(
    spark: SparkSession,
    events_path: str,
    seen: DataFrame,
    on: tuple[str, str] = ("event_id", "seen_id"),
) -> DataFrame:
    """Stream-static LEFT ANTI join — the ingest-time skip-list: rows
    whose key already exists in a STATIC reference (yesterday's
    processed-id manifest, a blocklist, an already-crawled URL set)
    are dropped inside the stream, stateless. The anti-join complement
    of ``stream_static_enrich``: Spark re-plans the static side per
    micro-batch and broadcasts it when small, so the stream side never
    shuffles and no state accumulates (unlike dropDuplicates, which
    must REMEMBER keys — the anti join delegates memory to the static
    manifest). availableNow drains the identical plan a live stream
    runs, so the batch oracle checks it row-for-row.

    At 100 TB the manifest outgrows broadcast: same plan degrades to a
    per-batch shuffled hash anti-join, or the manifest becomes a bloom
    filter (bloom_prune_join) with an exact residual check downstream.

    Returns the surviving rows' (event_id, user_id, event_type, day).
    """
    stream_col, seen_col = on
    stream = _raw_stream(spark, events_path)
    kept = stream.join(
        F.broadcast(seen),
        stream[stream_col] == seen[seen_col],
        "left_anti",
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    return drain(kept)


def stream_cms_sketch(
    spark: SparkSession,
    events_path: str,
    depth: int = 4,
    width: int = 128,
    top_k: int = 10,
    n_splits: int = 4,
) -> DataFrame:
    """Streaming count-min sketch via foreachBatch — the
    sketch-MERGEABILITY demonstration: each micro-batch reduces to its
    own d×w CMS cell grid (operators/sketches.py cms_build) and the
    grids merge by cell-wise SUM, so the final sketch is a pure
    function of the input regardless of how the availableNow drain
    splits batches. That integer-exact merge is what makes the gate
    closed-form: the oracle computes the one-shot CMS over the whole
    table and must hash-match the 4-batch streamed build bit-for-bit.

    The source is split into ``n_splits`` single-file batches
    (maxFilesPerTrigger=1 — the r4 deterministic-micro-batch pattern)
    to force a real multi-batch merge. Per batch, only the ≤ d·w cell
    grid leaves the executors; the driver folds grids into a dict —
    exactly how per-partition / per-day sketches roll up in a real
    deployment (the grid fits anywhere, the raw keys never move).

    Returns (user_id, true_n, cms_count) for the ``top_k``
    true-heaviest users, estimate from the merged sketch.
    """
    from drune_spark.operators.sketches import cms_build, cms_estimate

    ev = spark.read.parquet(events_path).select("user_id", "event_id")
    cells: dict[tuple[int, int], int] = {}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        grid = cms_build(
            batch_df, "user_id", depth=depth, width=width
        ).collect()
        for r in grid:
            key = (r.j, r.bucket)
            cells[key] = cells.get(key, 0) + r.n

    with tempfile.TemporaryDirectory(prefix="drune_cms_stream_") as d:
        in_dir = os.path.join(d, "in")
        _write_splits(ev, "event_id", n_splits, in_dir, ["user_id"])
        drain(
            spark.readStream.schema("user_id bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(in_dir, "sp=*")),
            sink=lambda w: w.foreachBatch(merge_batch).start(),
        )

    from drune_spark.functions.partitioning import local_frame
    sketch = local_frame(
        spark,
        [(j, b, n) for (j, b), n in sorted(cells.items())],
        "j int, bucket bigint, n long",
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("user_id").asc())
        .limit(top_k)
    )
    est = cms_estimate(
        sketch, top.select("user_id"), "user_id",
        depth=depth, width=width,
    )
    return top.join(est, "user_id").select(
        "user_id", "true_n", "cms_count"
    )


def stream_admission(
    spark: SparkSession,
    events_path: str,
    key_col: str = "event_type",
    id_col: str = "event_id",
    quota: int = 25,
    n_splits: int = 4,
) -> DataFrame:
    """Streaming per-key admission quota via foreachBatch — the ingest
    budget enforcer ("first N documents per source, then stop paying
    for that source"): a cross-batch counter admits each key's rows
    until its quota is spent, across however many micro-batches the
    drain produces. The cross-batch state is a |keys|-row dict of
    admitted counts (the stream_cms_merge grid discipline) — row-level
    data NEVER reaches the driver: each batch ranks its rows per key
    executor-side (row_number), joins the broadcast counter map, and
    appends only admitted (key, id) rows to the sink; the driver folds
    per-key ADMITTED COUNTS only.

    Determinism by construction (the r4 mtime pattern): the input is
    split into ``n_splits`` single-file micro-batches by
    ``id % n_splits`` with pinned mtimes, and within a batch rows rank
    by id — so the admission order is globally (id % n_splits, id) and
    the whole run is closed-form: admitted =
    row_number() OVER (PARTITION BY key ORDER BY id % n_splits, id)
    <= quota, which IS the oracle text. Batch-split invariance of the
    quota (not of admission ORDER — quotas are order-sensitive by
    definition) is the property under test.

    Returns the admitted (key_col, id_col) rows — ≤ quota · |keys|.
    """
    from pyspark.sql import Window

    from drune_spark.functions.partitioning import local_frame

    ev = spark.read.parquet(events_path).select(
        F.col(key_col).alias("k"), F.col(id_col).alias("i")
    )
    seen: dict[str, int] = {}

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        m = local_frame(
            spark, list(seen.items()) or [("", 0)],
            "k string, prior long",
        )
        w = Window.partitionBy("k").orderBy("i")
        adm = (
            batch_df.withColumn("rk", F.row_number().over(w))
            .join(F.broadcast(m), "k", "left")
            .filter(
                F.col("rk") + F.coalesce("prior", F.lit(0)) <= quota
            )
            .select("k", "i")
        )
        # Sink keyed by batch_id (overwrite) so a micro-batch RETRY
        # replaces rather than duplicates its rows (ADVICE r7). The
        # driver-side counters stay at-least-once: a retried batch
        # re-folds its counts, so a production deployment must make
        # the whole admit() idempotent (e.g. persist per-batch
        # counter deltas alongside the sink and fold on read) —
        # fine here because the availableNow drain retries nothing.
        adm.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )
        for r in adm.groupBy("k").count().collect():
            seen[r.k] = seen.get(r.k, 0) + r["count"]

    with tempfile.TemporaryDirectory(prefix="drune_admit_stream_") as d:
        in_dir, out_dir = os.path.join(d, "in"), os.path.join(d, "admitted")
        _write_splits(ev, "i", n_splits, in_dir, ["k", "i"])
        drain(
            spark.readStream.schema("k string, i bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(in_dir, "sp=*")),
            sink=lambda w: w.foreachBatch(admit).start(),
        )
        rows = [
            (r.k, r.i)
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(out_dir)
            .collect()
        ]  # ≤ quota·|keys| admitted cells — bounded driver fetch
    return local_frame(
        spark, sorted(rows), f"{key_col} string, {id_col} bigint"
    )


def stream_resume_counts(
    spark: SparkSession,
    events_path: str,
    key_col: str = "event_type",
    n_splits: int = 4,
) -> DataFrame:
    """Checkpoint-recovery / exactly-once proof — the restart story
    every other streaming gate leaves untested: a keyed count
    aggregation drains HALF the input (availableNow run 1, its own
    lifecycle), the query STOPS, the other half lands in the source
    directory, and a SECOND query starts from the SAME checkpoint.
    The final complete-mode table equals the one-shot batch counts —
    which can only happen if (a) run 2 restored run 1's aggregation
    state from the state store AND (b) the checkpointed file log kept
    run 2 from re-reading run 1's files (re-read would double-count;
    fresh state would half-count — both corruptions are hash-visible).

    This is the operational property that makes 100-TB streaming
    pipelines restartable mid-backfill: state + source progress live
    in the checkpoint, not the driver. Returns (key_col, n) ordered
    by key.
    """
    ev = spark.read.parquet(events_path).select(
        F.col(key_col).alias("k"), F.col("event_id").alias("i")
    )
    with tempfile.TemporaryDirectory(prefix="drune_resume_stream_") as root:
        in_dir = os.path.join(root, "in")
        stage = os.path.join(root, "stage")
        ckpt = os.path.join(root, "ckpt")
        _write_splits(ev, "i", n_splits, stage, ["k"])
        os.makedirs(in_dir)

        def land(splits) -> None:
            for b in splits:
                # part files only: a hidden .part-*.crc copied under a
                # visible name makes the stream read it as parquet and
                # fail. copy2 keeps the pinned mtime, so batch order holds.
                for src in glob.glob(
                        os.path.join(stage, f"sp={b}", "*.parquet")):
                    shutil.copy2(src, os.path.join(
                        in_dir, f"sp{b}_{os.path.basename(src)}"))

        def run() -> DataFrame:
            return drain(
                spark.readStream.schema("k string")
                .option("maxFilesPerTrigger", "1")
                .parquet(in_dir)
                .groupBy("k")
                .count(),
                "complete",
                checkpoint=ckpt,
            )

        land(range(n_splits // 2))
        run()                            # run 1: first half only
        land(range(n_splits // 2, n_splits))
        rows = [                         # run 2: SAME checkpoint, new files
            (r.k, int(r["count"])) for r in run().collect()
        ]  # |keys|-row fetch
    from drune_spark.functions.partitioning import local_frame
    return local_frame(
        spark, sorted(rows), f"{key_col} string, n bigint"
    )


def stream_dlq(
    spark: SparkSession,
    events_path: str,
    rules: list[tuple[str, str, str, dict]] | None = None,
    n_splits: int = 4,
) -> DataFrame:
    """Streaming dead-letter routing — the ingest-quality pattern every
    production pipeline needs: each micro-batch is screened by the SAME
    declarative RuleRegistry rules the batch DQ engine uses
    (quality/rules.py; reference constraints at
    /root/reference/src/drune/core/quality — batch-only there), passing
    rows land in the main sink and failing rows in a dead-letter sink
    with the FIRST failing rule's reason attached (rule order = reason
    precedence, the warn→drop→fail discipline). Both sinks are written
    per-batch-id (overwrite) so a micro-batch retry replaces rather
    than duplicates — the whole route is idempotent, unlike a blind
    append.

    Routing is stateless per row, so sink counts are batch-split
    invariant by construction — THE oracle claim: however the file
    source slices the drain (forced multi-batch via
    maxFilesPerTrigger=1), read-back counts equal the batch SQL. At
    100 TB the same foreachBatch body runs on a live source; the DLQ
    keeps the main table clean without dropping evidence.

    Returns (route, reason, key, n) counts from the two sinks.
    """
    from drune_spark.quality.rules import RuleRegistry

    if rules is None:
        rules = [
            ("bad_type", "isin", "event_type",
             {"positional": [["click", "view", "purchase", "signup"]]}),
            ("low_value", "greater_than_or_equal_to", "value",
             {"positional": [2.0]}),
        ]
    checks = []
    for reason, rule_name, col, params in rules:
        ok = RuleRegistry.get(rule_name)(col, params)
        checks.append((reason, ok))
    reason_expr = F.lit("ok")
    for reason, ok in reversed(checks):
        reason_expr = F.when(~ok, F.lit(reason)).otherwise(reason_expr)

    def route(batch_df: DataFrame, batch_id: int) -> None:
        tagged = batch_df.withColumn("reason", reason_expr)
        tagged.filter("reason <> 'ok'").write.mode("overwrite") \
            .parquet(os.path.join(dlq_dir, f"batch={batch_id}"))
        tagged.filter("reason = 'ok'").drop("reason") \
            .write.mode("overwrite") \
            .parquet(os.path.join(main_dir, f"batch={batch_id}"))

    with tempfile.TemporaryDirectory(prefix="drune_dlq_stream_") as d:
        in_dir = os.path.join(d, "in")
        main_dir, dlq_dir = os.path.join(d, "main"), os.path.join(d, "dlq")
        cols = ["event_id", "event_type", "value"]
        _write_splits(
            spark.read.parquet(events_path), "event_id", n_splits, in_dir,
            cols,
        )
        drain(
            spark.readStream
            .schema("event_id bigint, event_type string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(in_dir, "sp=*")),
            sink=lambda w: w.foreachBatch(route).start(),
        )

        opts = {"recursiveFileLookup": "true"}
        dlq_counts = [
            ("dlq", r.reason, r.event_type, r.n)
            for r in spark.read.options(**opts).parquet(dlq_dir)
            .groupBy("reason", "event_type")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        ]
        main_counts = [
            ("main", "ok", r.event_type, r.n)
            for r in spark.read.options(**opts).parquet(main_dir)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        ]
    from drune_spark.functions.partitioning import local_frame
    return local_frame(
        spark,
        sorted(dlq_counts + main_counts),
        "route string, reason string, event_type string, n bigint",
    )
