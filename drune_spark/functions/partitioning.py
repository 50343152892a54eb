"""Partitioning helpers for CPU-bound narrow operators.

A small parquet table often arrives as ONE input split (file size <
``spark.sql.files.maxPartitionBytes``), so expression-heavy per-row work
(shingling, 64-perm MinHash, SimHash bit votes, per-row md5 chains) runs
on a single core no matter how many executors exist. At 100 TB inputs
this never happens (thousands of splits); at dimension/document scale it
is the difference between 1× and 32× CPU. ``fan_out`` round-robins rows
across the session's default parallelism before such operators — the
shuffle moves only the small input, never the expanded intermediates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: spread each hot key of ``left`` across
    ``num_salts`` shuffle partitions; replicate ``right`` rows once per
    salt so every (key, salt) bucket still joins completely.

    Use when one side has heavy key skew AND the other side is too big
    to broadcast (otherwise prefer broadcast or AQE skew-join, which
    this engine enables by default). Result is identical to a plain
    join — salt values never affect matching, only placement.

    Supported: inner/left/left_semi/left_anti. right/full would emit one
    null-padded row PER SALT for unmatched right rows (the right side is
    replicated) — rejected rather than silently wrong.
    """
    from pyspark.sql import functions as F

    allowed = {"inner", "left", "left_outer", "leftouter",
               "left_semi", "semi", "leftsemi",
               "left_anti", "anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports inner/left/semi/anti joins, not '{how}' "
            f"(right/full would duplicate unmatched right rows per salt)"
        )
    left_s = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(num_salts)),
    )
    right_s = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
    )
    return left_s.join(right_s, [key, "__salt"], how).drop("__salt")


def key_skew_profile(df: DataFrame, key_col: str, k: int = 20) -> DataFrame:
    """Heavy-hitter diagnostic for join/agg keys: top-``k`` keys by row
    count with their integer-ppm share of the table — the measurement
    that decides between plain join, AQE skew-join, and ``salted_join``
    (a key at >~5% of rows will dominate one reducer).

    Plan: one groupBy(key) shuffle of (key, count) pairs, the total via
    a broadcast single-row agg over those counts (no second scan, no
    collect), and TakeOrdered for the top-k — per-partition heaps, no
    global sort. Share as exact integer ppm (n·10^6 div total), so the
    output is parallelism-independent."""
    from pyspark.sql import functions as F

    counts = df.groupBy(F.col(key_col)).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            key_col,
            "n",
            F.expr("(n * 1000000L) div __total").alias("ppm"),
        )
        .orderBy(F.col("n").desc(), F.col(key_col))
        .limit(k)
    )


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin ``df`` to at least ``min_partitions`` (default: the
    session's default parallelism) when its scan is narrower. Decided
    from the plan; runs no Spark job. An adaptive plan already has an
    exchange, which AQE sizes, so it is returned as is: asking its RDD
    for a partition count would execute every query stage, and the
    next action would run them again."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            return df
        current = df.rdd.getNumPartitions()
    except Exception:
        current = 1
    if current >= target:
        return df
    return df.repartition(target)


def join_cardinality_profile(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    k: int = 10,
) -> DataFrame:
    """Exact join-size profile BEFORE running the join: per matching key
    ``out_rows = n_left · n_right``, ranked by contribution — the
    measurement behind every join-strategy decision (broadcast vs SMJ,
    salting factor, AQE skew-split thresholds). A join whose top key
    contributes 30% of the output needs a skew plan no matter what the
    average says; this quantifies it for the cost of two key-cell
    aggregates instead of the join itself.

    Scale notes: both inputs collapse to (key, count) cells map-side
    before any shuffle; the cell join is key-cardinality-sized; the
    total is a broadcast 1-row aggregate (totals pattern) and the top-k
    a TakeOrderedAndProject. Neither payload ever moves.

    Returns (key, n_left, n_right, out_rows, share_ppm) for the top-k
    contributing keys.
    """
    from pyspark.sql import functions as F

    ca = left.groupBy(F.col(left_key).alias("key")).agg(
        F.count(F.lit(1)).alias("n_left")
    )
    cb = right.groupBy(F.col(right_key).alias("key")).agg(
        F.count(F.lit(1)).alias("n_right")
    )
    cells = ca.join(cb, "key").withColumn(
        "out_rows", F.col("n_left") * F.col("n_right")
    )
    total = cells.agg(F.sum("out_rows").alias("total_rows"))
    return (
        cells.crossJoin(F.broadcast(total))
        .withColumn(
            "share_ppm", F.expr("out_rows * 1000000 div total_rows")
        )
        .orderBy(F.col("out_rows").desc(), F.col("key").asc())
        .limit(k)
        .select("key", "n_left", "n_right", "out_rows", "share_ppm")
    )


def rendezvous_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int = 8,
    salt: str = "hrw",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment — the
    coordination-free placement rule (Thaler & Ravishankar 1998) whose
    defining property is minimal remapping: removing one shard moves
    ONLY that shard's keys (1/n of data), where mod-hashing reshuffles
    almost everything. The right layout op for corpus shards / cache
    placement that must survive membership churn.

    shard(key) = argmax_s md5_u32(salt:key:s), ties to the smallest s —
    the argmax is integer-encoded (``max(h·n + (n−1−s))``, one map-side
    partial max per key, no window) and every hash is the portable md5
    form the oracle mirrors verbatim.

    One narrow explode (n_shards per row) + per-key partial-agg argmax +
    a shard-cell aggregate; rows never shuffle (the per-key argmax
    collapses candidates before the exchange, and the final report is
    n_shards rows).

    Returns (shard, n_keys, share_ppm).
    """
    from pyspark.sql import functions as F

    from drune_spark.functions.hashes import md5_u32

    n = int(n_shards)
    cand = df.select(
        F.col(id_col).alias("key"),
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("s"),
    ).withColumn(
        "h",
        md5_u32(
            F.concat_ws(
                ":", F.lit(salt), F.col("key").cast("string"),
                F.col("s").cast("string"),
            )
        ),
    )
    assigned = (
        cand.groupBy("key")
        .agg(F.max(F.col("h") * n + (F.lit(n - 1) - F.col("s"))).alias("code"))
        .select(
            "key",
            (F.lit(n - 1) - F.pmod(F.col("code"), F.lit(n))).alias("shard"),
        )
    )
    counts = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_keys")
    )
    total = counts.agg(F.sum("n_keys").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.col("shard").cast("int").alias("shard"),
            "n_keys",
            F.expr("n_keys * 1000000 div total").alias("share_ppm"),
        )
    )


def rendezvous_assign(
    df: DataFrame,
    id_col: str,
    n_shards: int = 8,
    salt: str = "hrw",
) -> DataFrame:
    """Per-key HRW assignment (key, shard) — the row-level companion of
    ``rendezvous_shards`` (same argmax), exposed for the minimal-remap
    pytest and for callers that partition by the result."""
    from pyspark.sql import functions as F

    from drune_spark.functions.hashes import md5_u32

    n = int(n_shards)
    cand = df.select(
        F.col(id_col).alias("key"),
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("s"),
    ).withColumn(
        "h",
        md5_u32(
            F.concat_ws(
                ":", F.lit(salt), F.col("key").cast("string"),
                F.col("s").cast("string"),
            )
        ),
    )
    return (
        cand.groupBy("key")
        .agg(F.max(F.col("h") * n + (F.lit(n - 1) - F.col("s"))).alias("code"))
        .select(
            "key",
            (F.lit(n - 1) - F.pmod(F.col("code"), F.lit(n)))
            .cast("int")
            .alias("shard"),
        )
    )


def _parse_simple_schema(schema: str):
    """Parse ``"name type, name type"`` splitting only TOP-LEVEL commas
    (so ``array<long>`` survives). Returns [(name, normalized_type)]."""
    cols, depth, cur = [], 0, []
    for ch in schema:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            cols.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    cols.append("".join(cur))
    out = []
    for c in cols:
        parts = c.strip().split(None, 1)
        if len(parts) != 2:
            return None
        out.append((parts[0], parts[1].strip().lower().replace(" ", "")))
    return out


_LF_INT_TYPES = {"int", "integer", "bigint", "long"}
_LF_LONG_ARRAYS = {"array<bigint>", "array<long>"}


def _lf_literal(v, t: str) -> str | None:
    """One SQL literal token for value ``v`` of simple type ``t``;
    None = unsupported (caller falls back)."""
    if v is None:
        return "NULL"
    if t in _LF_INT_TYPES:
        return f"{int(v)}L"
    if t == "double":
        f = float(v)
        if f != f or f in (float("inf"), float("-inf")):
            return f"CAST('{f!r}' AS DOUBLE)"
        return f"{f!r}D"
    if t == "boolean":
        return "true" if bool(v) else "false"
    if t == "string":
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    if t in _LF_LONG_ARRAYS:
        inner = ", ".join("NULL" if x is None else f"{int(x)}L" for x in v)
        return f"array({inner})"
    return None


# The most rows a literal frame holds (see ``local_frame``).
LITERAL_ROWS = 1024


def local_frame(
    spark,
    rows,
    schema,
    max_literal_rows: int = LITERAL_ROWS,
) -> DataFrame:
    """Driver-local rows as a DataFrame WITHOUT the default python scan.

    ``spark.createDataFrame(list)`` becomes a pickled RDD parallelized
    over ``defaultParallelism`` slices: every action launches that many
    python-worker tasks whose measured cost is ~150-350 ms of pure
    handshake wait EACH (r10 profile: 32-slice local frame ≈ 0.43 s per
    noop save steady vs ≈ 0.10 s as a JVM literal frame) — and min-of-2
    benching pays it per pass. Control/result frames in driver-loop
    operators are tiny, so this builds them as ONE range(n, 1 partition)
    + per-column ``element_at(array(<literals>), id+1)`` projection:
    pure JVM, zero python workers, one expr parse per column
    (the ``lit_double_array`` lesson — never per-element ``F.lit``).

    Value fidelity: ints exact; doubles via ``repr`` round-trip (the
    proven lit_double_array contract, ``D`` suffix, Infinity/NaN via
    CAST); strings with backslash+quote escaping (raw newlines are legal
    inside Spark string literals); None → typed NULL (the final
    ``cast`` to the declared column type resolves all-NULL columns).
    Output column order, names and types match ``createDataFrame``'s.

    Falls back to ``createDataFrame(parallelize(rows, slices))`` —
    slices sized by row count, not defaultParallelism — when the schema
    is not a simple string schema (int/long/double/string/boolean/
    array<long>), any value is unsupported, or rows exceed
    ``max_literal_rows`` (a >64KB CreateArray codegen method would fall
    back to interpreted eval anyway; a plan-text blowup is never worth
    a local frame).
    """
    from pyspark.sql import functions as F

    rows = list(rows)
    n = len(rows)
    cols = _parse_simple_schema(schema) if isinstance(schema, str) else None

    def _fallback() -> DataFrame:
        slices = max(1, min(
            spark.sparkContext.defaultParallelism, 1 + n // 50_000
        ))
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, slices), schema
        )

    if n == 0:
        return spark.createDataFrame([], schema)
    if cols is None or n > max_literal_rows:
        return _fallback()
    arrays = []
    for ci, (_, t) in enumerate(cols):
        lits = []
        for r in rows:
            lit = _lf_literal(r[ci], t)
            if lit is None:
                return _fallback()
            lits.append(lit)
        arrays.append("array(" + ", ".join(lits) + ")")
    base = spark.range(0, n, 1, 1)
    return base.select(*[
        F.element_at(F.expr(arr), (F.col("id") + 1).cast("int"))
        .cast(t).alias(name)
        for arr, (name, t) in zip(arrays, cols)
    ])
