"""Deterministic IVF centroid training — integer-exact Lloyd's k-means.

``ivf_assign``/``ivf_topk`` (similarity.py) use seed vectors as coarse
cells and note that a real deployment would k-means-refine them; this
module is that refinement, built the way Spark MLlib's KMeans actually
runs at scale: centroids live on the DRIVER (k*dim small ints), each
Lloyd round is one pass over the corpus with the centroids baked in as
literal arrays plus one map-side-partial aggregation keyed on
(cell, position) — at most k*dim cells per map task cross the wire.
The corpus never shuffles: the cost at 100 TB is T embarrassingly
parallel scans, and the driver round-trip per round is k rows of
integers (the standard k-means control loop — MLlib does exactly
this), never data.

Expression form: distances are ``aggregate(zip_with(q, c, (a-b)²))``
array folds over literal centroid arrays. The fully literal-unrolled
codegen alternative (k*dim explicit terms) was measured to emit a
multi-MiB whole-stage-codegen task binary and spend ~10× the fold
form's wall-clock on Janino compilation at k=8, dim=64 — the fold's
interpreted eval is the faster *and* smaller plan here; a deployment
chasing the last 2× at higher k*dim would swap in an Arrow-batched
pandas_udf distance kernel without touching the control loop.

Portability (oracle hash-match): vectors are quantized to unsigned
8-bit codes with an explicit FP sequence — ``floor((x + 1.0) * 127.0 +
0.5)``, exact in any engine — and everything downstream is exact
integer arithmetic: squared-L2 distances, argmin with (dist,
centroid_id) tie-break, member counts, rounded centroid means
``(2s + n) div (2n)``, SSE. No floating-point accumulation anywhere,
so a DuckDB oracle replays the full T-round training bit-for-bit.

No counterpart in /root/reference; driver-mandated LLM-data extension
(the ANN/IVF scale path's training half).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drune_spark.functions.vectors import to_double_array
from drune_spark.operators import replay


def quantize_unsigned(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, qv array<long>): ``floor((x + 1.0) * 127.0 + 0.5)`` per
    element (inputs in [-1, 1] map to [0, 254]; out-of-range inputs
    still quantize, just wider)."""
    v = to_double_array(F.col(vec_col))
    return df.select(
        F.col(id_col),
        F.transform(
            v,
            lambda x: F.floor(
                (x + F.lit(1.0)) * F.lit(127.0) + F.lit(0.5)
            ).cast("long"),
        ).alias("qv"),
    )


def _sqdist(qcol, c: list[int]):
    """Exact integer squared L2 distance of array column ``qcol`` to
    the literal centroid ``c``. One array literal, not dim F.lit
    columns: per-element lits cost dim py4j round-trips PER CENTROID
    at expression-BUILD time (~2s per k=8/dim=64 _best_cell site —
    measured r9; the driver-loop ops build these each round)."""
    # ONE py4j round-trip: F.lit(list) expands to a per-element loop
    # inside pyspark (64 round-trips per centroid, k·64 per site).
    from drune_spark.functions.vectors import lit_long_array
    carr = lit_long_array(c)
    return F.aggregate(
        F.zip_with(qcol, carr, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _best_cell(centroids: list[tuple[int, list[int]]]):
    """struct(dist, centroid_id) of the nearest centroid — argmin via
    array_min over structs (lexicographic: dist asc, then centroid_id
    asc on ties)."""
    arr = F.array(
        *[
            F.struct(
                _sqdist(F.col("qv"), c).alias("dist"),
                F.lit(cid).cast("long").alias("centroid_id"),
            )
            for cid, c in centroids
        ]
    )
    # lambda-bearing struct members lose their field names (Spark
    # renders them col1/col2) — pin names via an explicit cast
    return F.array_min(
        arr.cast("array<struct<dist:bigint,centroid_id:bigint>>")
    )


def _ivf_driver_result(
    q: DataFrame,
    k: int,
    n_iters: int,
    dim: int,
    id_col: str,
    with_stats: bool,
):
    """Driver replay gate for ``ivf_train``: returns the final
    (centroid_id, centroid, n_members, sse) frame when the Lloyd loop
    should run on the driver, or ``None`` for the distributed loop.

    Parity is structural: the quantized codes are collected AFTER the
    distributed ``quantize_unsigned`` (no FP replay anywhere), and every
    downstream value is int64 — squared-L2 distances, first-occurrence
    argmin over centroid rows ordered by ascending id (== the
    ``array_min`` (dist, centroid_id) lexicographic tie-break), bincount
    members, the round-half-up mean ``(2s + n) // (2n)`` (numpy int64
    floor division == the python ``//`` the distributed control loop
    itself uses), scatter-added SSE. Ragged/mismatched dims, NULL-bearing
    codes or out-of-budget sizes decline to the distributed path, as
    do the gate's id rules. The cutoff counts code cells (rows × dim):
    the gate admits the cached frame's count times ``dim``."""
    op = "ivf_train"

    def lloyd(g):
        import numpy as np

        n, ids, (offs, flat) = g.n_rows, g.cols[id_col], g.cols["qv"]
        # distance-matrix op budget per round (n·k·dim int64 mults)
        if n * max(1, k) * dim > 512_000_000:
            return replay.decline(op, "op_budget", n * dim)
        if (np.diff(offs) != dim).any():
            return replay.decline(op, "ragged_dim", n * dim)
        if flat.dtype != np.int64:  # NULL elements surface as objects
            return replay.decline(op, "null_code", n * dim)
        codes = flat.reshape(n, dim)
        mmax = int(np.abs(codes).max(initial=0))
        # Bound EVERY int64 sum by the actual sizes, not the default
        # cutoff: dist ≤ dim·(2M)² per row and SSE ≤ n·dim·(2M)², so
        # require n·dim·4M² < 2⁶² (python-int arithmetic — the guard
        # itself cannot overflow). Past it the distributed ANSI path is
        # the one that raises loudly instead of wrapping.
        if mmax > 0 and int(n) * dim * 4 * mmax * mmax >= (1 << 62):
            return replay.decline(op, "overflow", n * dim)
        order = np.argsort(ids)
        ids_s, codes_s = ids[order].astype(np.int64), codes[order]
        kk = min(int(k), int(n))
        # Duplicate ids among the k lowest seeds: the distributed rebuild
        # keys its accumulator by cid and COLLAPSES both entries into one
        # shared mean, while this replay would keep two independently
        # updating centroid rows — decline to the distributed path.
        if len(np.unique(ids_s[:kk])) != kk:
            return replay.decline(op, "duplicate_id", n * dim)
        cids = ids_s[:kk]
        cents = codes_s[:kk].copy()

        def _assign(c):
            # per-centroid loop: n·dim transients instead of an n·k·dim
            # difference tensor (k=256 at the cell cutoff would be ~4 GB)
            dist = np.empty((len(codes_s), len(c)), dtype=np.int64)
            for j in range(len(c)):
                d = codes_s - c[j]
                dist[:, j] = (d * d).sum(axis=1)
            a = dist.argmin(axis=1)  # first min == lowest centroid_id
            return a, dist[np.arange(len(a)), a]

        for _ in range(int(n_iters)):
            asg, _ = _assign(cents)
            cnt = np.bincount(asg, minlength=kk).astype(np.int64)
            sums = np.zeros((kk, dim), dtype=np.int64)
            np.add.at(sums, asg, codes_s)
            nz = cnt > 0
            cents[nz] = (2 * sums[nz] + cnt[nz, None]) // (
                2 * cnt[nz, None]
            )
        if with_stats:
            asg, dmin = _assign(cents)
            cnt = np.bincount(asg, minlength=kk).astype(np.int64)
            sse = np.zeros(kk, dtype=np.int64)
            np.add.at(sse, asg, dmin)
        else:
            cnt = sse = np.zeros(kk, dtype=np.int64)
        return [
            (int(cids[j]), [int(x) for x in cents[j]], int(cnt[j]),
             int(sse[j]))
            for j in range(kk)
        ]

    return replay.gate(
        op, [q], (id_col,),
        "centroid_id long, centroid array<long>, n_members long, sse long",
        lloyd, size=lambda: q.count() * dim,
    )


def ivf_train(
    corpus: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_stats: bool = True,
) -> DataFrame:
    """Train IVF coarse centroids with ``n_iters`` Lloyd rounds over
    quantized codes. Returns (centroid_id, centroid array<long>,
    n_members, sse) where the stats come from a final assignment pass
    against the trained centroids; empty cells keep their previous
    centroid and report n_members = sse = 0.

    centroid_id is the seed vector's id (first ``n_centroids`` by
    ``id_col``, the same deterministic seeding ``ivf_assign`` uses —
    similarity.py), so trained centroids drop into the existing
    assign/search layout unchanged. Ids must be int or bigint
    (``TypeError`` before any Spark job otherwise); a NULL id, or a
    NULL vector or element among the seeds, raises ``ValueError``.
    """
    replay.integer_ids("ivf_train", corpus, id_col)
    spark = corpus.sparkSession
    q = quantize_unsigned(corpus, vec_col, id_col).persist()
    try:
        # Size-adaptive driver fast path (r10 §26): below a cell cutoff
        # (replay.CUTOFFS, n·dim cells — the broadcast memory class) ONE
        # Arrow collect of the quantized codes replays
        # the whole Lloyd loop in int64 numpy. The distributed loop at
        # bench scale paid ~8 s PER ROUND: CollapseProject inlines the
        # ``_best_cell`` argmin struct into the post-posexplode
        # projection, re-evaluating the interpreted k·dim fold once per
        # exploded element (64×/row) on the corpus's single input split.
        # Above the cutoff the loop below runs (with the barrier fix).
        hit = _ivf_driver_result(
            q, n_centroids, n_iters, dim, id_col, with_stats,
        )
        if hit is not None:
            return hit
        seeds = q.orderBy(F.col(id_col)).limit(n_centroids).collect()
        # NULLs sort first, so a NULL id anywhere is among the seeds
        for r in seeds:
            if r[id_col] is None:
                raise ValueError(f"ivf_train: {id_col} holds a NULL id")
            if r["qv"] is None or None in r["qv"]:
                raise ValueError(
                    f"ivf_train: {vec_col} holds a NULL vector element")
        centroids = [
            (int(r[id_col]), [int(v) for v in r["qv"]]) for r in seeds
        ]

        for _ in range(n_iters):
            # The argmin struct is the GROUPING key: HashAggregate
            # evaluates grouping expressions once per input row, so the
            # interpreted k·dim fold cannot be inlined into a
            # per-element projection (the old posexplode shape paid the
            # CollapseProject re-eval 64×/row — ~8 s/round at sf0.1).
            # Per-position sums via try_element_at keep the pass
            # explode-free and the wire cost at k rows × dim+1 columns
            # per task — the module's original map-side-partial design
            # (try_: short arrays contribute NULL == the rows the old
            # posexplode never produced, summed identically).
            rows = (
                q.groupBy(
                    _best_cell(centroids)["centroid_id"].alias("__cid")
                )
                .agg(
                    F.count(F.lit(1)).alias("__n"),
                    *[
                        F.sum(
                            F.try_element_at("qv", F.lit(j + 1))
                        ).alias(f"s{j}")
                        for j in range(dim)
                    ],
                )
                .collect()
            )
            acc: dict[int, tuple[int, list[int]]] = {}
            for r in rows:
                acc[int(r["__cid"])] = (
                    int(r["__n"]),
                    [
                        int(r[f"s{j}"]) if r[f"s{j}"] is not None else 0
                        for j in range(dim)
                    ],
                )
            centroids = [
                (
                    cid,
                    [
                        # round-half-up mean, exact ints
                        (2 * s + acc[cid][0]) // (2 * acc[cid][0])
                        for s in acc[cid][1]
                    ]
                    if cid in acc
                    else old,
                )
                for cid, old in centroids
            ]

        spark = corpus.sparkSession
        if not with_stats:
            # Serving-path callers (ivf_pq_serve) only consume
            # (centroid_id, centroid) — skip the final assignment pass
            # (one full _best_cell job) and report zeroed stats.
            from drune_spark.functions.partitioning import \
                local_frame
            return local_frame(
                spark,
                [(cid, c, 0, 0) for cid, c in centroids],
                "centroid_id long, centroid array<long>, "
                "n_members long, sse long",
            )
        stats = (
            # group by the WHOLE argmin struct first (grouping keys
            # evaluate once per row; two direct GetStructField
            # references would inline — and re-evaluate — the fold
            # twice), then fold the distinct (dist, cid) groups down
            # to per-centroid stats: Σ counts and Σ dist·count are the
            # same exact integers as the row-level aggregates.
            q.groupBy(_best_cell(centroids).alias("__best"))
            .agg(F.count(F.lit(1)).alias("__n"))
            .groupBy(
                F.col("__best.centroid_id").alias("centroid_id")
            )
            .agg(
                F.sum("__n").alias("n_members"),
                F.sum(F.col("__best.dist") * F.col("__n")).alias("sse"),
            )
        )
        from drune_spark.functions.partitioning import local_frame
        cent_df = local_frame(
            spark,
            list(centroids),
            "centroid_id long, centroid array<long>",
        )
        return cent_df.join(F.broadcast(stats), "centroid_id", "left").select(
            "centroid_id",
            "centroid",
            F.coalesce("n_members", F.lit(0)).cast("long").alias("n_members"),
            F.coalesce("sse", F.lit(0)).cast("long").alias("sse"),
        )
    finally:
        q.unpersist()
