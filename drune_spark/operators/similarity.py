"""Similarity search over embedding columns (driver extension).

- ``brute_force_topk``: exact cosine top-k of every query vector against
  the corpus. The query side is broadcast (queries << corpus), so the
  corpus never shuffles: one narrow pass computes all similarities, then
  a per-query top-k via window row_number. At 1000 executors this scans
  the corpus once regardless of #queries.
- ``lsh_topk``: approximate path — random-hyperplane (SRP) LSH buckets;
  only vectors sharing >= 1 hyperplane-band with the query are scored.
  Hyperplanes are generated driver-side from a fixed seed (deterministic,
  no execution-time RNG). This is the 100 TB strategy: candidate sets
  shrink the scored fraction by orders of magnitude; recall tunable via
  (planes_per_band, bands).
- ``ivf_topk``: IVF-style coarse quantization — k-means-lite centroids
  sampled deterministically, vectors assigned to nearest centroid at
  write time; queries probe ``nprobe`` nearest centroids. Included to
  show the partition-pruned ANN layout Spark would use with a bucketed/
  partitioned corpus table.

All math uses sequential ``zip_with``/``aggregate`` doubles →
bit-deterministic, oracle-reproducible results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from drune_spark.functions.vectors import (
    cosine_similarity,
    dot,
    norm,
    to_double_array,
)
from drune_spark.operators import replay


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Exact two-phase top-k over (query_id, neighbor_id, cosine).

    The round-1 audit flagged the naive reading of this plan: a window
    partitioned by query_id funnels every corpus score for a query
    through one reducer task. The fix is a per-input-partition partial
    top-k before the shuffle — and Spark's rank-limit pushdown
    (optimizer rule InsertWindowGroupLimit, SPARK-37099) inserts exactly
    that when a row_number window is immediately filtered to ``rank <=
    k``: the physical plan shows ``WindowGroupLimit ... Partial`` BELOW
    the Exchange (each map task keeps at most k rows per query) and
    ``WindowGroupLimit ... Final`` above it, so the per-query reducer
    receives <= k * num_input_partitions rows, never the corpus. One
    shuffle total — strictly better than a hand-written two-stage window
    (which shuffles the same pruned rows twice). The shape is pinned in
    tests/test_plans.py::test_ann_topk_partial_window_limit so a Spark
    config/version regression can't silently bring the funnel back.
    """
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine. Returns (query_id, neighbor_id, rank, cosine).

    Ties break on neighbor id ascending — deterministic output set.

    The corpus side fans out before the per-pair interpreted cosine
    folds (r11): sf-scale embeddings arrive as ONE parquet split, so
    every query's |corpus| folds ran on a single task (the r8
    single-file lesson; interleaved A/B at sf0.1: 1.6-2.0 → 0.5-0.6 s
    at 40 queries, 0.65-1.29 → 0.38-0.99 s at 5). No-op at production
    split counts.
    """
    from drune_spark.functions.partitioning import fan_out

    c = fan_out(corpus.select(
        F.col(id_col).alias("neighbor_id"),
        to_double_array(F.col(vec_col)).alias("cvec"),
    ))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        to_double_array(F.col(vec_col)).alias("qvec"),
    )
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("cvec"), F.col("qvec")).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    import random
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def srp_signature(vec_col, planes: list[list[float]]):
    """Sign-random-projection bit signature as array<int> of 0/1.

    Kept for unit tests / tiny frames only — the fold builds one
    interpreted ``dot`` per plane and costs SECONDS of driver-side
    py4j/analysis time to construct (32 planes measured ~4.5-7 s to
    BUILD, before any job). Production sites go through
    ``srp_signatures_agg`` (codegen, cheap to build, sign-identical)."""
    from drune_spark.functions.vectors import lit_double_array

    bits = []
    for plane in planes:
        p = lit_double_array(plane)  # ONE py4j call
        bits.append(F.when(dot(vec_col, p) >= 0, 1).otherwise(0))
    return F.array(*bits)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    bands: int = 4,
    planes_per_band: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing an SRP band
    with the query. Returns (query_id, neighbor_id, rank, cosine)."""
    planes = _hyperplanes(dim, bands * planes_per_band, seed)
    # Signatures via the posexplode+sum aggregate (srp_signatures_agg),
    # NOT the per-plane dot() folds: the folds are interpreted at run
    # time AND cost seconds of driver-side py4j/analysis time just to
    # CONSTRUCT (32 planes ≈ 4.5-7 s measured; the r10 profile showed
    # ann_recall spending 5 s wall on 0.7 s of task time). Sign parity
    # fold↔aggregate is the proven srp_signatures_agg contract the
    # lsh_multiprobe oracle already rests on.
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        to_double_array(F.col(vec_col)).alias("cvec"),
    )
    c = cvecs.join(
        srp_signatures_agg(cvecs, ["neighbor_id"], "cvec", planes),
        "neighbor_id",
    )
    qvecs = queries.select(
        F.col(query_id_col).alias("query_id"),
        to_double_array(F.col(vec_col)).alias("qvec"),
    )
    q = qvecs.join(
        srp_signatures_agg(qvecs, ["query_id"], "qvec", planes)
        .withColumnRenamed("sig", "qsig"),
        "query_id",
    )

    def band_key(sig_col, b: int):
        return F.xxhash64(F.lit(b), F.slice(sig_col, b * planes_per_band + 1,
                                            planes_per_band))

    c_bands = c.select(
        "neighbor_id", "cvec",
        F.explode(F.array(*[band_key(F.col("sig"), b) for b in range(bands)]))
         .alias("bucket"),
    )
    q_bands = q.select(
        "query_id", "qvec",
        F.explode(F.array(*[band_key(F.col("qsig"), b) for b in range(bands)]))
         .alias("bucket"),
    )
    cands = (
        c_bands.join(F.broadcast(q_bands), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("cvec"), F.col("qvec")).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style ANN search: probe only the ``nprobe`` nearest coarse
    cells per query. Returns (query_id, neighbor_id, rank, cosine).

    The full partition-pruned layout ``ivf_assign`` sets up:

    1. Centroids = first ``n_centroids`` vectors by id (TakeOrdered — see
       ``ivf_assign``); a real deployment would k-means-refine these.
    2. Corpus assignment: broadcast centroid join + map-side-partial
       ``min(struct(-sim, centroid_id))`` argmax — one row per vector
       crosses the one assignment shuffle, carrying (id, vec, cell).
       At scale this happens once at WRITE time (corpus stored
       partitioned/bucketed by ``centroid_id``), not per query.
    3. Query probes: each query scores the (tiny, broadcast) centroid
       table and keeps its ``nprobe`` best cells — rank-limit window over
       queries only, never the corpus.
    4. Candidate scoring: the assigned corpus joins ``broadcast(probes)``
       on ``centroid_id`` — with a centroid-partitioned corpus table this
       is partition pruning: only ``nprobe / n_centroids`` of the data is
       read and scored. The corpus never shuffles in the search phase.
    5. Exact top-k tail via the rank-limit pushdown plan (see
       ``_topk_per_query``).

    Deterministic: same sequential-fold cosine everywhere, ties break on
    centroid_id / neighbor_id ascending → exact DuckDB oracle.
    """
    centroids = (
        corpus.orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            to_double_array(F.col(vec_col)).alias("centroid"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        to_double_array(F.col(vec_col)).alias("cvec"),
    )
    assigned = (
        c.join(F.broadcast(centroids))
        .select(
            "neighbor_id",
            "cvec",
            "centroid_id",
            cosine_similarity(F.col("cvec"), F.col("centroid")).alias("sim"),
        )
        .groupBy("neighbor_id")
        .agg(
            F.min(
                F.struct((-F.col("sim")).alias("neg_sim"), F.col("centroid_id"))
            ).alias("best"),
            F.first("cvec").alias("cvec"),
        )
        .select(
            "neighbor_id", F.col("best.centroid_id").alias("centroid_id"), "cvec"
        )
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        to_double_array(F.col(vec_col)).alias("qvec"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("qsim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        q.join(F.broadcast(centroids))
        .select(
            "query_id",
            "qvec",
            "centroid_id",
            cosine_similarity(F.col("qvec"), F.col("centroid")).alias("qsim"),
        )
        .withColumn("probe_rank", F.row_number().over(wq))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "qvec", "centroid_id")
    )
    scored = (
        assigned.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("cvec"), F.col("qvec")).alias("cosine"),
        )
    )
    return _topk_per_query(scored, k)


def ivf_assign(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest of n deterministic 'centroids'
    (the first n vectors by id — a seed sample standing in for k-means,
    which would be an iterative refinement of exactly this assignment
    join). Output partitionable by ``centroid_id`` so a real deployment
    writes the corpus bucketed by centroid and queries prune partitions.

    Scale notes (round-1 audit fixes):
    - The centroid pick is ``orderBy(id).limit(n)`` — Spark compiles it
      to TakeOrderedAndProject (per-partition top-n, then merge n rows),
      NOT a global no-partition window that would sort the whole corpus
      in one task.
    - The nearest-centroid argmax is a ``min(struct(-sim, centroid_id))``
      aggregation, not a per-id window: partial (map-side) aggregation
      collapses each vector's n_centroids candidate rows before the
      shuffle, so only one row per vector crosses the wire and there is
      no sort. Tie-break (sim desc, centroid_id asc) is preserved by the
      struct ordering.
    """
    centroids = (
        corpus.orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            to_double_array(F.col(vec_col)).alias("centroid"),
        )
    )
    c = corpus.select(
        F.col(id_col), to_double_array(F.col(vec_col)).alias("v")
    )
    scored = c.join(F.broadcast(centroids)).select(
        id_col,
        "centroid_id",
        cosine_similarity(F.col("v"), F.col("centroid")).alias("sim"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.min(
                F.struct(
                    (-F.col("sim")).alias("neg_sim"), F.col("centroid_id")
                )
            ).alias("best")
        )
        .select(id_col, F.col("best.centroid_id").alias("centroid_id"))
    )


def centroid_silhouette(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-quality evaluation: the simplified (centroid-based)
    silhouette over the :func:`ivf_assign` layout — per vector,
    ``a`` = cosine distance to its nearest centroid, ``b`` = distance
    to the runner-up, ``s = (b − a) / b`` (b ≥ a ≥ 0, so s ∈ [0, 1];
    s = 0 when b = 0). The medoid/all-pairs silhouette is O(Σ|c|²);
    the centroid form is the O(n·k) screen that tells you whether a
    coarse-quantizer layout (IVF partitioning, SemDeDup blocking) has
    meaningful cells BEFORE paying for a within-cell pass.

    Determinism contract: the per-row math is float (the zip_with/
    aggregate cosine fold proven bit-identical to DuckDB
    list_cosine_similarity), but every AGGREGATED value is integer —
    s is floored to integer micro-units per row and summed as longs,
    so no float-sum ordering can diverge between engines. Top-2
    selection tie-breaks (sim DESC, centroid_id ASC), matching
    ivf_assign's argmax.

    Plan shape at 100 TB: one broadcast of k centroids against the
    corpus (no shuffle of vectors), a per-vector top-2 (rank-limited
    window — WindowGroupLimit pushes the k→2 cut below the exchange),
    then a k-cell aggregate. Requires n_centroids ≥ 2.

    Returns (centroid_id, n_members, mean_sil_micro) per cluster.
    """
    from pyspark.sql.window import Window

    assert n_centroids >= 2, "silhouette needs at least 2 centroids"
    centroids = (
        corpus.orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            to_double_array(F.col(vec_col)).alias("centroid"),
        )
    )
    c = corpus.select(
        F.col(id_col), to_double_array(F.col(vec_col)).alias("v")
    )
    scored = c.join(F.broadcast(centroids)).select(
        id_col,
        "centroid_id",
        cosine_similarity(F.col("v"), F.col("centroid")).alias("sim"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("sim").desc(), F.col("centroid_id").asc()
    )
    top2 = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 2
    )
    per_vec = top2.groupBy(id_col).agg(
        F.max(F.when(F.col("rn") == 1, F.col("centroid_id"))).alias(
            "centroid_id"
        ),
        F.max(F.when(F.col("rn") == 1, F.lit(1) - F.col("sim"))).alias("a"),
        F.max(F.when(F.col("rn") == 2, F.lit(1) - F.col("sim"))).alias("b"),
    )
    sil = per_vec.select(
        "centroid_id",
        F.when(F.col("b") <= 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor((F.col("b") - F.col("a")) / F.col("b") * F.lit(1000000.0))
        )
        .alias("s_micro"),
    )
    return (
        sil.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("s_micro").alias("sum_micro"),
        )
        .select(
            "centroid_id",
            "n_members",
            F.expr("sum_micro div n_members").alias("mean_sil_micro"),
        )
    )


def recall_at_k(
    exact: DataFrame,
    approx: DataFrame,
    queries: DataFrame,
    k: int,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Index-quality evaluation: per-query recall@k of an approximate
    ANN result against the exact ranking — the metric that decides
    whether an LSH/IVF configuration is shippable. All-integer
    (hits · 10⁶ div k), so the evaluation itself is engine-exact even
    though the underlying scores are floats.

    Cost: one equi-join on (query, neighbor) between two k·|Q|-row
    frames + a |Q|-cell aggregate — evaluation never touches the
    corpus.

    Returns (query_id, n_hits, recall_ppm).
    """
    hits = (
        exact.select(query_col, neighbor_col)
        .join(approx.select(query_col, neighbor_col),
              [query_col, neighbor_col])
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        queries.select(query_col).distinct()
        .join(hits, query_col, "left")
        .select(
            query_col,
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.expr(f"coalesce(n_hits, 0) * 1000000 div {int(k)}")
            .alias("recall_ppm"),
        )
    )


def maxsim_topk(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    k: int = 5,
    doc_col: str = "doc_id",
    query_col: str = "query_id",
    qtok_col: str = "q_tok",
    vec_col: str = "v",
) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia 2020,
    arXiv:2004.12832): ``score(q, d) = Σ_{t∈q} max_{u∈d} cos(t, u)`` —
    every query token finds its best-matching document token, and the
    per-token maxima sum to the document score. The multi-vector
    retrieval model single-vector cosine (``brute_force_topk``) can't
    express.

    Determinism: cosines are integer-scaled (``floor(cos·10⁹ + 0.5)``)
    before aggregation, so the per-token MAX and per-document SUM are
    order-free and engine-exact end-to-end.

    Scale notes: query tokens are broadcast (queries ≪ corpus) — the
    corpus token table is scanned once and never shuffles; the first
    groupBy's map-side partial MAX collapses each document's tokens
    before the exchange, so shuffles carry (query, q_tok, doc, max)
    cells, then (query, doc, score) cells; top-k is the pinned
    WindowGroupLimit shape. At 100 TB this is the PLAID-style candidate
    scoring pass over an IVF-pruned candidate set (compose with
    ``ivf_topk`` for the pruning stage).

    Returns (query_col, doc_col, rank, score_e9).
    """
    q = query_tokens.select(
        F.col(query_col),
        F.col(qtok_col),
        to_double_array(F.col(vec_col)).alias("qv"),
    )
    d = doc_tokens.select(
        F.col(doc_col), to_double_array(F.col(vec_col)).alias("dv")
    )
    pairs = d.join(F.broadcast(q)).select(
        query_col,
        qtok_col,
        doc_col,
        F.floor(
            cosine_similarity(F.col("qv"), F.col("dv"))
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cos_e9"),
    )
    tokmax = pairs.groupBy(query_col, qtok_col, doc_col).agg(
        F.max("cos_e9").alias("m")
    )
    score = tokmax.groupBy(query_col, doc_col).agg(
        F.sum("m").alias("score_e9")
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("score_e9").desc(), F.col(doc_col).asc()
    )
    return (
        score.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_col, doc_col, "rank", "score_e9")
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 8,
    n_candidates: int = 20,
    lambda_ppm: int = 700_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``k`` of the top-``n_candidates`` retrieval
    hits per query, each round taking the candidate maximizing

        λ·rel(q, c) − (1−λ)·max_{s ∈ selected} sim(c, s)

    — the diversification pass between retrieval and a RAG prompt (or
    between ANN and a training-pair miner) that stops near-duplicate
    hits from crowding the slate.

    Exactness contract: relevance and pairwise similarities are the
    proven bit-deterministic zip_with/aggregate cosine folds, floored
    to integer ppm; the greedy loop then runs in pure python ints
    (λ as ppm → objective = λ_ppm·rel_ppm − (1−λ_ppm)·sim_ppm, well
    under 2^63), so selection order is engine-exact and the DuckDB
    oracle replays it as a k-stage unrolled argmax CTE over the same
    integer tables. Ties break (objective desc, candidate id asc).

    Plan shape at 100 TB: candidate generation is the pinned
    brute-force/ANN top-k path (WindowGroupLimit partials — the corpus
    is scanned once, never shuffled whole); the pairwise-sim self-join
    and the greedy loop touch only Q·n_candidates rows. The greedy
    recurrence is applyInPandas over COGROUPED (rel, sim) cells per
    query — tiny sequential state that never leaves one executor task,
    the same tier as ewma_monitor (a greedy argmax chain is inherently
    sequential; each pick conditions the next).

    Returns (query_id, rank, neighbor_id, objective) with rank 1..k.
    """
    import pandas as pd

    # Both tiny frames feed multiple plan branches (rel → cogroup side
    # + candidate-vector join; cand_vecs → both sides of the pairwise
    # self-join). Without persist marks each branch re-executes the
    # corpus-sized brute-force subtree (the self-referencing-DAG trap) —
    # with them the corpus is scanned once for retrieval and once for
    # the Q·n_candidates vector lookup. Lazy marks only (bfs_khop
    # pattern): repeat executions cache-hit, the bench's between-query
    # clearCache bounds residency.
    rel = (
        brute_force_topk(
            corpus, queries, k=n_candidates,
            id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        )
        .select(
            "query_id",
            F.col("neighbor_id").alias("cand"),
            F.floor(F.col("cosine") * F.lit(1000000.0))
            .cast("long")
            .alias("rel_ppm"),
        )
        .persist()
    )
    vecs = corpus.select(
        F.col(id_col).alias("cand"),
        to_double_array(F.col(vec_col)).alias("cv"),
    )
    cand_vecs = rel.select("query_id", "cand").join(vecs, "cand").persist()
    a = cand_vecs.alias("A")
    b = cand_vecs.alias("B")
    sims = (
        a.join(
            b,
            (F.col("A.query_id") == F.col("B.query_id"))
            & (F.col("A.cand") != F.col("B.cand")),
        )
        .select(
            F.col("A.query_id").alias("query_id"),
            F.col("A.cand").alias("ca"),
            F.col("B.cand").alias("cb"),
            F.floor(
                cosine_similarity(F.col("A.cv"), F.col("B.cv"))
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("sim_ppm"),
        )
    )

    mu_ppm = 1_000_000 - lambda_ppm
    out_schema = "query_id long, rank int, neighbor_id long, objective long"

    def _greedy(rels: pd.DataFrame, pairs: pd.DataFrame) -> pd.DataFrame:
        if rels.empty:
            return pd.DataFrame(
                {
                    "query_id": pd.Series([], dtype="int64"),
                    "rank": pd.Series([], dtype="int32"),
                    "neighbor_id": pd.Series([], dtype="int64"),
                    "objective": pd.Series([], dtype="int64"),
                }
            )
        qid = int(rels["query_id"].iloc[0])
        rel_of = {
            int(c): int(r) for c, r in zip(rels["cand"], rels["rel_ppm"])
        }
        sim_of: dict[tuple[int, int], int] = {
            (int(x), int(y)): int(s)
            for x, y, s in zip(pairs["ca"], pairs["cb"], pairs["sim_ppm"])
        }
        selected: list[tuple[int, int]] = []
        remaining = set(rel_of)
        while remaining and len(selected) < k:
            best = None
            for c in remaining:
                if selected:
                    msim = max(sim_of[(c, s)] for s, _ in selected)
                    obj = lambda_ppm * rel_of[c] - mu_ppm * msim
                else:
                    obj = lambda_ppm * rel_of[c]
                key = (obj, -c)
                if best is None or key > best[0]:
                    best = (key, c, obj)
            _, c, obj = best
            selected.append((c, obj))
            remaining.discard(c)
        return pd.DataFrame(
            {
                "query_id": [qid] * len(selected),
                "rank": list(range(1, len(selected) + 1)),
                "neighbor_id": [c for c, _ in selected],
                "objective": [o for _, o in selected],
            }
        )

    return (
        rel.groupby("query_id")
        .cogroup(sims.groupby("query_id"))
        .applyInPandas(_greedy, schema=out_schema)
    )


# Mean block size the derived block count pins (the semdedup
# TARGET_CLUSTER discipline): at fixed n_blocks the pair scan grows
# ∝ n², with blocks ∝ n it grows ∝ n · block — 1×→3× scale ratio
# measured 2.56 fixed vs linear-bounded derived.
DBSCAN_TARGET_BLOCK = 125


def dbscan_blocked(
    corpus: DataFrame,
    sim_t_micro: int = 400_000,
    min_pts: int = 2,
    n_blocks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. 1996) over an
    embedded corpus, SHARDED by the IVF coarse quantizer — the
    SemDeDup blocking contract: the ε-ball is "cosine ≥ t" and
    neighbor pairs are enumerated within a coarse cell only, so pair
    volume is bounded by Σ|cell|² instead of n² (cross-cell neighbors
    are forgone — the documented recall trade every blocked pipeline
    makes). Completes the clustering family: ivf/kmeans (centroidal),
    semdedup (dedup pruning), label_propagation (graphs) — DBSCAN
    finds arbitrary-shape dense regions and explicitly labels noise.

    Roles: core = ≥ ``min_pts`` in-block neighbors at the threshold;
    border = non-core with ≥ 1 core neighbor (joins its MINIMUM core
    neighbor's component — deterministic, where classic DBSCAN is
    arrival-order-dependent for shared borders); noise = the rest.
    Clusters = connected components over CORE-CORE edges
    (dedup.py connected_components, min-label fixpoint), so the
    result is parallelism-invariant.

    Determinism: cosines are the proven double fold, floored to
    integer micro BEFORE the threshold compare; every label is an
    integer min. Returns (id_col, block_id, role, cluster_id —
    NULL for noise).

    Execution shape (round 8, VERDICT r7 #3): because candidate pairs
    are enumerated WITHIN a block, no density edge — and therefore no
    component, border relation, or degree — ever crosses a block
    boundary. The entire role/label resolution is one
    ``groupBy(block).applyInPandas`` union-find kernel: a single
    shuffle of the (already threshold-filtered) edge list, no driver
    iteration, no persisted frames. The previous shape ran the generic
    distributed CC loop (degree agg + core joins + O(log n)
    pointer-jump rounds + border join): correct, but ~10 driver
    actions whose per-job overhead dominated at any scale where blocks
    fit memory — and a block that fits the O(|cell|²) pair scan by
    construction fits a linear-size union-find. At 100 TB the shuffle
    is ∝ surviving edges, the kernel is O(E α(E)) per block, and
    skew is bounded by the same cell-size bound the pair scan needs.
    """
    import pandas as pd

    if n_blocks is None:
        # One bounded control fetch, mirrored as a scalar subquery in
        # the DuckDB oracle (the semdedup derived-k pattern).
        n_blocks = max(16, corpus.count() // DBSCAN_TARGET_BLOCK)

    # Lazy persist (bfs_khop pattern): the self-join below consumes the
    # assignment on BOTH sides — unpersisted, the ivf_assign argmax
    # subtree re-runs per branch (the r3 self-reference trap). The
    # frame is 2 integers/row; vectors are NOT cached.
    assign = ivf_assign(corpus, n_blocks, id_col, vec_col).select(
        F.col(id_col), F.col("centroid_id").alias("block_id")
    ).persist()
    # Norms are hoisted out of the pair loop: cosine(a,b) =
    # dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) and the two sqrt
    # factors depend on one side each, so computing them once per
    # POINT instead of once per PAIR removes 2 of the 3 interpreted
    # HOF folds from the O(Σ|cell|²) scan — bit-identical results
    # (same IEEE ops in the same order, just evaluated earlier;
    # measured 3× on the pair phase at sf0.1).
    pts = (
        corpus.select(
            F.col(id_col), to_double_array(F.col(vec_col)).alias("v")
        )
        .join(assign, id_col)
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    )
    a, b = pts.alias("a"), pts.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col("a.block_id").alias("block_id"),
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.floor(
                F.lit(1000000.0)
                * (
                    dot(F.col("a.v"), F.col("b.v"))
                    / (F.col("a.nrm") * F.col("b.nrm"))
                )
            ).cast("bigint").alias("sim_micro"),
        )
        .filter(F.col("sim_micro") >= sim_t_micro)
        .select("block_id", "id_a", "id_b")
    )

    def _resolve(pdf: pd.DataFrame) -> pd.DataFrame:
        # Per-block DBSCAN role/label resolution. All-integer; labels
        # are component-min ids, so the result is order-independent.
        from collections import defaultdict

        neigh: dict[int, set] = defaultdict(set)
        for x, y in zip(pdf["id_a"], pdf["id_b"]):
            neigh[int(x)].add(int(y))
            neigh[int(y)].add(int(x))
        cores = {n for n, ns in neigh.items() if len(ns) >= min_pts}
        parent: dict[int, int] = {n: n for n in cores}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for n in cores:
            for m in neigh[n]:
                if m in cores:
                    ra, rb = find(n), find(m)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        members: dict[int, list] = defaultdict(list)
        for n in cores:
            members[find(n)].append(n)
        label = {}
        for root, ms in members.items():
            lbl = min(ms)
            for n in ms:
                label[n] = lbl
        rows = [(n, "core", label[n]) for n in cores]
        for n, ns in neigh.items():
            if n in cores:
                continue
            core_nb = [label[m] for m in ns if m in cores]
            if core_nb:
                rows.append((n, "border", min(core_nb)))
        return pd.DataFrame(
            rows, columns=["rid", "role", "cluster_id"]
        ).astype({"rid": "int64", "role": "str", "cluster_id": "int64"})

    resolved = pairs.groupBy("block_id").applyInPandas(
        _resolve, schema="rid long, role string, cluster_id long"
    )
    out = assign.join(
        resolved.withColumnRenamed("rid", id_col), id_col, "left"
    )
    return out.select(
        id_col,
        "block_id",
        F.coalesce("role", F.lit("noise")).alias("role"),
        "cluster_id",
    )


def knn_label_noise(
    corpus: DataFrame,
    k: int = 5,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN label-noise screen (the confident-learning / cleanlab
    shape, Northcutt et al. 2021): for every labeled embedding, take
    its k nearest same-cluster neighbors by cosine and compare the
    neighborhood's majority label against the row's own label — the
    standard audit for mislabeled training examples before a
    fine-tune. Output is the (label, majority-label) confusion grid:
    off-diagonal mass IS the suspected-noise inventory, bounded at
    |labels|² rows no matter the corpus size.

    Scale shape (the SemDeDup blocking): IVF-assign to
    max(4, n // 64) coarse cells so candidate pairs stay ~64·n
    instead of n²; neighbors rank inside an equi-join on centroid_id
    (hash/SMJ, never cartesian). Majority is the integer-encoded
    argmax ``max(cnt·K + (K−1−label))`` (the label_propagation
    idiom, K = 2³³) — no per-node vote sort, ties break to the
    smaller label deterministically; cosine ties break by neighbor
    id. Cosine values are the proven cross-engine-identical fold, so
    the DuckDB oracle replays assignment, ranking and vote exactly.

    Rows with no same-cluster neighbor (singleton cells) have no vote
    and drop out — at real scale they are the "too isolated to
    audit" remainder a second pass with coarser k would sweep.

    Cache residency note (r6 ADVICE): ``cl`` (id, vec, label,
    centroid — cell-sized, no text) carries a lazy persist mark so
    the self-join's two branches share one IVF assignment instead of
    re-running it; the mark cannot be dropped before the caller
    executes the returned plan, so like k_truss/bfs_khop the frame
    stays resident until the harness's per-query clearCache (bench.py)
    or session end. Bounded: ~n·(dim+3) doubles, never pairs.

    Returns (label, maj_label, n) ordered by both labels.
    """
    from drune_spark.functions.vectors import (
        cosine_similarity,
        to_double_array,
    )

    if n_clusters is None:
        n_clusters = max(4, corpus.count() // 64)
    assign = ivf_assign(
        corpus, n_clusters, id_col=id_col, vec_col=vec_col
    )
    vecs = corpus.select(
        F.col(id_col),
        to_double_array(F.col(vec_col)).alias("v"),
        F.col(label_col).alias("__lbl"),
    )
    cl = vecs.join(assign, id_col).persist()
    a, b = cl.alias("a"), cl.alias("b")
    pairs = a.join(
        b,
        (F.col("a.centroid_id") == F.col("b.centroid_id"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("pid"),
        F.col("a.__lbl").alias("own"),
        F.col(f"b.{id_col}").alias("nid"),
        F.col("b.__lbl").alias("nlabel"),
        cosine_similarity(F.col("a.v"), F.col("b.v")).alias("sim"),
    )
    w = Window.partitionBy("pid").orderBy(
        F.col("sim").desc(), F.col("nid").asc()
    )
    topk = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    votes = topk.groupBy("pid", "own", "nlabel").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    K = 1 << 33
    maj = votes.groupBy("pid", "own").agg(
        (
            F.lit(K - 1)
            - F.pmod(
                F.max(
                    F.col("cnt") * F.lit(K)
                    + (F.lit(K - 1) - F.col("nlabel"))
                ),
                F.lit(K),
            )
        ).alias("maj_label")
    )
    return (
        maj.groupBy(
            F.col("own").alias("label"), F.col("maj_label")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "maj_label")
    )


def truncation_rank_agreement(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    keep_dims: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Kendall-tau rank agreement between the FULL-dimension cosine
    ranking and the ranking induced by the first ``keep_dims``
    dimensions — the matryoshka/MRL truncation audit (Kusupati et al.
    2022): before shipping truncated embeddings to cut index cost
    2×, measure how much neighbor ORDER they preserve (recall@k says
    whether the same set comes back; tau says whether it comes back
    in the same order — the metric that degrades first).

    Per query: the top-``k`` full-dim candidates (brute_force_topk —
    exact, ties on neighbor id) are re-ranked by truncated cosine
    (same tie rule); every one of the k·(k−1)/2 candidate pairs is
    concordant or discordant (row_number makes both rankings strict
    permutations, so no tie term). Concordant/discordant counts are
    exact integers; τ = (C − D) / (C + D) is left to the reader so no
    engine division enters the hash.

    Scale shape: candidate sets are k rows per query — the pair stage
    is a k²-bounded within-query self-join on broadcast-sized frames;
    the only corpus-sized work is the exact top-k scan it audits.
    Truncated cosines reuse the proven cross-engine fold on the SAME
    sliced operand order, so the DuckDB oracle replays both rankings
    bit-for-bit.

    Returns (query_id, concordant, discordant) ordered by query.
    """
    from pyspark.sql import Window

    from drune_spark.functions.vectors import (
        cosine_similarity,
        to_double_array,
    )

    full = brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    ch = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        to_double_array(F.slice(F.col(vec_col), 1, keep_dims)).alias("hv"),
    )
    qh = queries.select(
        F.col(query_id_col).alias("query_id"),
        to_double_array(F.slice(F.col(vec_col), 1, keep_dims)).alias("qh"),
    )
    cand = (
        full.select(
            "query_id", "neighbor_id", F.col("rank").alias("rank_full")
        )
        .join(ch, "neighbor_id")
        .join(F.broadcast(qh), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "rank_full",
            cosine_similarity(F.col("hv"), F.col("qh")).alias("hsim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hsim").desc(), F.col("neighbor_id").asc()
    )
    ranked = cand.withColumn("rank_half", F.row_number().over(w))
    a, b = ranked.alias("a"), ranked.alias("b")
    pairs = a.join(
        b,
        (F.col("a.query_id") == F.col("b.query_id"))
        & (F.col("a.rank_full") < F.col("b.rank_full")),
    ).select(
        F.col("a.query_id").alias("query_id"),
        F.when(
            F.col("a.rank_half") < F.col("b.rank_half"), F.lit(1)
        ).otherwise(F.lit(0)).alias("conc"),
    )
    return (
        pairs.groupBy("query_id")
        .agg(
            F.sum("conc").cast("long").alias("concordant"),
            F.sum(F.lit(1) - F.col("conc")).cast("long").alias("discordant"),
        )
        .orderBy("query_id")
    )


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    bands: int = 4,
    planes_per_band: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Multi-probe SRP-LSH (Lv et al. 2007, VLDB — multi-probe LSH):
    besides its own bucket, each query probes every bucket whose band
    code differs by ONE flipped hyperplane bit — the buckets a
    near-neighbor most likely fell into when one projection landed on
    the wrong side. Recall rises toward brute-force without adding
    hash tables (more bands = more memory at 100 TB; more probes =
    only more QUERY-side rows).

    Plan shape: band signatures fold to integer codes; the corpus
    side stays ONE row per (vector, band) — probing multiplies only
    the broadcast query side ×(planes_per_band + 1). The candidate
    join stays a (band, code) equi-join; candidate set ≡ all corpus
    vectors within Hamming 1 of the query in some band (the oracle
    states it that way via bit_count(xor)).

    Returns (query_id, neighbor_id, rank, cosine).
    """
    from drune_spark.functions.partitioning import fan_out

    planes = _hyperplanes(dim, bands * planes_per_band, seed)

    def band_code(sig_col, b: int):
        code = F.lit(0)
        for j in range(planes_per_band):
            code = code + (
                F.element_at(sig_col, b * planes_per_band + j + 1)
                * F.lit(1 << j)
            )
        return code.cast("int")

    # Corpus signatures go through the codegen aggregate path
    # (srp_signatures_agg): srp_signature's 32 interpreted dot() folds
    # measured ~12s on the sf0.1 corpus vs ~1s for the explode+FMA
    # aggregate. The sig joins back onto the (cheap) corpus scan for
    # the scoring vectors; the 5-row query side keeps the fold.
    cvecs = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        to_double_array(F.col(vec_col)).alias("cvec"),
    )
    csigs = srp_signatures_agg(cvecs, ["neighbor_id"], "cvec", planes)
    c = cvecs.join(csigs, "neighbor_id")
    # Query side goes through the SAME aggregate path — not for speed
    # (5 rows) but as an optimizer BARRIER: a withColumn fold here gets
    # CollapseProject-inlined into all ~288 probe-code references below
    # (2048-literal plane arrays per copy), exploding the generated
    # code. Behind the aggregate, qsig is a real attribute and each
    # probe code is 8 cheap array lookups. Steady-state cost ~2.6s at
    # sf0.1; the first 1-2 executions in a session pay 8-20s of
    # codegen JIT for the ~84KB plan — a transient, not a data cost.
    qvecs = queries.select(
        F.col(query_id_col).alias("query_id"),
        to_double_array(F.col(vec_col)).alias("qvec"),
    )
    q = qvecs.join(
        srp_signatures_agg(qvecs, ["query_id"], "qvec", planes)
        .withColumnRenamed("sig", "qsig"),
        "query_id",
    )

    c_bands = c.select(
        "neighbor_id", "cvec",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     band_code(F.col("sig"), b).alias("code"))
            for b in range(bands)
        ]).cast("array<struct<band:int,code:int>>")).alias("bc"),
    ).select("neighbor_id", "cvec", "bc.band", "bc.code")
    probes = []
    for b in range(bands):
        base = band_code(F.col("qsig"), b)
        probes.append(F.struct(F.lit(b).alias("band"),
                               base.alias("code")))
        for j in range(planes_per_band):
            probes.append(F.struct(
                F.lit(b).alias("band"),
                base.bitwiseXOR(F.lit(1 << j)).alias("code"),
            ))
    q_probes = q.select(
        "query_id", "qvec",
        F.explode(
            F.array(*probes).cast("array<struct<band:int,code:int>>")
        ).alias("bc"),
    ).select("query_id", "qvec", "bc.band", "bc.code")
    cands = (
        c_bands.join(F.broadcast(q_probes), ["band", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("cvec"), F.col("qvec")).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def srp_signatures_agg(
    df: DataFrame,
    id_cols: list[str],
    vec_col: str,
    planes: list[list[float]],
) -> DataFrame:
    """SRP signatures via posexplode + conditional-sum aggregate — the
    codegen path for the hyperplane dot products. ``srp_signature``'s
    per-plane ``dot()`` folds are interpreted HOF lambdas (32 planes ×
    64 dims re-walks the array per plane, outside whole-stage
    codegen); here the vector explodes ONCE to (i, x) rows and every
    plane's dot is a fused multiply-add against a CONSTANT-FOLDED
    literal plane array — one codegen HashAggregate with 32 sum
    buffers. At the sf0.1 corpus size both paths measure <1s warm; the
    aggregate form keeps the signature math inside whole-stage codegen
    as the corpus grows (the fold would re-walk the array per plane,
    interpreted).

    FP parity with the fold (and with DuckDB's list_dot_product):
    posexplode emits one vector's rows contiguously in one task, and
    partial aggregation accumulates them in row order — ascending i,
    the exact fold order — with exactly one partial per group at the
    merge. Only the SIGN is consumed downstream anyway.

    Returns ``id_cols`` + ``sig`` (array<int> of 0/1, plane order).
    """
    n_planes = len(planes)
    # ONE py4j call per plane: both the per-element F.array(*[F.lit(x)])
    # form AND F.lit(list) (which pyspark expands to that same loop
    # internally) cost 64 round-trips per plane — measured ~2-4 s of
    # pure driver time per 32-plane call site before any job ran. The
    # expr-parsed literal is bit-identical (repr round-trip, D suffix).
    from drune_spark.functions.vectors import lit_double_array
    plane_arrs = [lit_double_array(p) for p in planes]
    pos = df.select(
        *id_cols, F.posexplode(vec_col).alias("i", "x")
    )
    dots = pos.groupBy(*id_cols).agg(*[
        F.sum(
            F.col("x")
            * F.element_at(plane_arrs[p], F.col("i") + 1)
        ).alias(f"d{p}")
        for p in range(n_planes)
    ])
    sig = F.array(*[
        F.when(F.col(f"d{p}") >= 0, 1).otherwise(0)
        for p in range(n_planes)
    ])
    return dots.select(*id_cols, sig.alias("sig"))


def _nsw_driver_rows(
    ids, V, n_cells: int, m_edges: int, hops: int, query_mod: int
):
    """Driver replay of the ENTIRE nsw build + walk on collected
    vectors — every float op in the exact order of the distributed
    expressions, so results are bit-identical:

    - cosine = dot/(norm·norm) where dot is the left-assoc
      zip_with/aggregate fold ``((0.0 + a₀b₀) + a₁b₁) + …`` —
      vectorized across PAIRS while looping dims SEQUENTIALLY
      (``acc = acc + A[:,j]·B[:,j]``), which preserves each element's
      accumulation order exactly; np.sqrt/np.floor/float64 ÷ are the
      same correctly-rounded IEEE ops as the JVM's.
    - everything after the ``floor(cos·10⁶)`` is int64 (encodes,
      argmaxes, tie-breaks) and replays the same integer arithmetic.

    Returns [(query_id, node, cos_micro)] or None when the driver
    path must not run (non-uniform dims, zero-norm or non-finite
    vectors — the distributed fold's NULL/NaN semantics are not worth
    replicating)."""
    import numpy as np

    enc_mod = 1 << 33
    shift = 1_000_000
    n, d = V.shape
    if bool((ids < 0).any()):
        return None  # % / encode arithmetic assumes nonnegative ids

    def _dot_fold(A, B):
        acc = np.zeros(len(A), dtype=np.float64)
        for j in range(d):
            acc = acc + A[:, j] * B[:, j]
        return acc

    norms = np.sqrt(_dot_fold(V, V))
    if not np.all(np.isfinite(V)) or not np.all(norms > 0.0):
        return None

    def _cos_micro(A, B, na, nb):
        cos = _dot_fold(A, B) / (na * nb)
        return np.floor(cos * 1_000_000.0).astype(np.int64)

    order = np.argsort(ids, kind="stable")
    seed_idx = order[: min(n_cells, n)]
    seed_ids = ids[seed_idx]
    # seed_cell_assign: per-vector argmax over seeds of the integer
    # encode (cos_micro + 10⁶)·2³³ + (2³³ − 1 − sid)
    best_enc = np.full(n, -1, dtype=np.int64)
    for si in seed_idx:
        cm = _cos_micro(V, V[np.full(n, si)], norms, norms[si])
        enc = (cm + shift) * enc_mod + (enc_mod - 1 - ids[si])
        best_enc = np.maximum(best_enc, enc)
    cells = (enc_mod - 1) - best_enc % enc_mod

    # in-cell pairs (ai < bi by id), cosine, symmetrize, top-M per src
    srcs, dsts, css = [], [], []
    for cell in np.unique(cells):
        members = np.where(cells == cell)[0]
        if len(members) < 2:
            continue
        mi = members[np.argsort(ids[members], kind="stable")]
        iu, ju = np.triu_indices(len(mi), k=1)
        a, b = mi[iu], mi[ju]
        cs = _cos_micro(V[a], V[b], norms[a], norms[b])
        srcs.append(ids[a])
        dsts.append(ids[b])
        css.append(cs)
        srcs.append(ids[b])
        dsts.append(ids[a])
        css.append(cs)
    if srcs:
        src = np.concatenate(srcs)
        dst = np.concatenate(dsts)
        cs = np.concatenate(css)
        # row_number over (partition src, order cs desc, dst asc):
        # sort by (src, -cs, dst), then rank = position since the
        # start of each equal-src run
        sel = np.lexsort((dst, -cs, src))
        src, dst = src[sel], dst[sel]
        run = np.zeros(len(src), dtype=np.int64)
        starts = np.flatnonzero(
            np.concatenate(([True], src[1:] != src[:-1]))
        )
        run[starts] = starts
        run = np.maximum.accumulate(run)
        rank = np.arange(len(src)) - run + 1
        keep = rank <= m_edges
        src, dst = src[keep], dst[keep]
    else:
        src = np.empty(0, dtype=np.int64)
        dst = np.empty(0, dtype=np.int64)
    # seed clique (exempt from the top-M cut), duplicates harmless —
    # the hop argmax is duplicate-insensitive, as in the union form
    neighbors: dict = {}
    for s_, d_ in zip(src.tolist(), dst.tolist()):
        neighbors.setdefault(s_, []).append(d_)
    for s_ in seed_ids.tolist():
        for d_ in seed_ids.tolist():
            if s_ != d_:
                neighbors.setdefault(s_, []).append(d_)

    idx_of = {int(v): i for i, v in enumerate(ids.tolist())}
    entry = int(ids[order[0]])
    ev = V[idx_of[entry]]
    evn = norms[idx_of[entry]]
    qmask = ids % query_mod == 0
    out = []
    for qi in np.where(qmask)[0]:
        qv, qn = V[qi], norms[qi]
        node = entry
        cm0 = _cos_micro(
            qv[None, :], ev[None, :], np.array([qn]), np.array([evn])
        )
        cos = int(cm0[0])
        for _ in range(hops):
            nbrs = neighbors.get(node)
            if not nbrs:
                continue
            ni = np.fromiter(
                (idx_of[x] for x in nbrs), dtype=np.int64, count=len(nbrs)
            )
            cm = _cos_micro(
                np.repeat(qv[None, :], len(ni), axis=0),
                V[ni],
                np.full(len(ni), qn),
                norms[ni],
            )
            enc = (cm + shift) * enc_mod + (enc_mod - 1 - ids[ni])
            best = int(enc.max())
            bn = (enc_mod - 1) - best % enc_mod
            bc = best // enc_mod - shift
            if bc > cos:
                node = int(bn)
            cos = max(bc, cos)
        out.append((int(ids[qi]), node, cos))
    return out


def nsw_greedy_search(
    emb: DataFrame,
    n_cells: int = 8,
    m_edges: int = 6,
    hops: int = 4,
    query_mod: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Graph-ANN serving: greedy best-first walk over a navigable
    small-world neighbor graph (Malkov et al. 2014 — the single-layer
    ancestor of HNSW, the industry-standard ANN serving structure).

    Build (batch, once per corpus version): vectors are assigned to
    the cell of their most-cosine-similar seed (seeds = the n_cells
    lowest ids, the ivf_assign convention); edges are each vector's
    top-``m_edges`` in-cell cosine neighbors, symmetrized, plus the
    all-pairs clique among seeds — the long-range layer that lets a
    walk cross cells. Candidate pairs ∝ Σ cell² (blocked, never
    corpus²), the same budget argument as SemDeDup blocking.

    Search: every ``query_mod``-th vector is a query; all queries walk
    IN PARALLEL AS ROWS from the global min-id entry point, ``hops``
    greedy steps: score the current node's neighbors against the
    query, move to the integer-argmax neighbor iff it improves the
    floored-micro cosine (ties → lower node id), else stay (converged
    — the same frontier re-scores and stays put). Each hop is a
    neighbor-list join (≤ m_edges candidate rows per query) + one
    argmax aggregate; the edge list and vector frame are persisted
    once (iterative persist rule) and every hop reuses them.

    Determinism: cosines use the zip_with/aggregate fold (bit-equal to
    DuckDB list_cosine_similarity on DOUBLE[], proven across rounds),
    compared only AFTER flooring to integer micro; the argmax is the
    integer-encoded ``(cos_micro + 10^6)·2^33 + (2^33−1−node)`` so an
    unrolled-CTE oracle replays every hop exactly.

    Returns (query_id, node, cos_micro): the node the walk settled on
    and its floored-micro cosine to the query. Ids must be int or
    bigint (the argmax encodes them); any other type raises
    ``TypeError`` before any Spark job.

    No counterpart in /root/reference; driver-mandated ANN extension
    (graph-based serving path alongside IVF/PQ/LSH).
    """
    from drune_spark.functions.partitioning import fan_out

    replay.integer_ids("nsw_greedy_search", emb, id_col)

    enc_mod = 1 << 33
    shift = 1_000_000

    # Size-adaptive driver fast path (r10 — the §13/§20 family): the
    # distributed build + 4-hop walk runs 47 sequential jobs (pair
    # join, top-M window, per-hop joins + eager localCheckpoints) at
    # ~0.1 s scheduling latency each for a corpus that fits one Arrow
    # transfer. Below the row cutoff (replay.CUTOFFS, 5000 rows — n·d
    # doubles plus n²/(2·n_cells) pair cosines is the driver-compute
    # class there) the whole thing replays on the driver bit-exactly
    # (see _nsw_driver_rows); above it, or when the replay declines
    # (ragged dims, NULL elements, zero norms, negative ids), the
    # distributed path below runs unchanged.
    def replayed(g):
        import numpy as np

        ids, (offs, values) = g.cols["nid"], g.cols["v"]
        lens = np.diff(offs)
        rows = None
        # a NULL element makes ``values`` an object array
        if values.dtype != object and (lens == lens[0]).all():
            V = values.astype(np.float64).reshape(g.n_rows, int(lens[0]))
            rows = _nsw_driver_rows(
                ids.astype(np.int64), V, n_cells, m_edges, hops, query_mod)
        if rows is None:
            return replay.decline("nsw_greedy_search", "vector_domain",
                                  g.n_rows)
        return rows

    hit = replay.gate(
        "nsw_greedy_search",
        [emb.select(F.col(id_col).alias("nid"),
                    to_double_array(F.col(vec_col)).alias("v"))],
        ("nid",), "query_id {id}, node bigint, cos_micro bigint", replayed,
        unique=True,
    )
    if hit is not None:
        return hit

    c = fan_out(emb).select(
        F.col(id_col).alias("nid"),
        to_double_array(F.col(vec_col)).alias("v"),
    ).persist()
    # Seeds = the n_cells LOWEST ids actually present (the ivf_assign
    # convention) — an orderBy+limit TakeOrdered, not a `< n_cells`
    # filter, so sparse or non-zero-based id spaces still seed a full
    # graph instead of silently degenerating to zero edges. Assignment
    # is the shared seed_cell_assign primitive (reads the cached c).
    seeds = c.orderBy("nid").limit(n_cells).select(
        F.col("nid").alias("sid"), F.col("v").alias("sv")
    )
    cos_micro = lambda a, b: F.floor(  # noqa: E731
        cosine_similarity(a, b) * F.lit(1_000_000.0)
    ).cast("long")

    assign = seed_cell_assign(
        c, n_cells=n_cells, id_col="nid", vec_col="v"
    ).select("nid", "cell")
    # ca is consumed by BOTH sides of the pair self-join — persist it
    # eagerly or each side replans the assignment argmax (the r3
    # self-referencing-DAG trap, join form).
    # Per-node norm hoisted out of the O(Σ cell²) pair scan (the r8
    # dbscan lesson): norm(a) recomputed inside cosine_similarity per
    # PAIR is 2 of the 3 interpreted 64-element folds each pair pays —
    # the hoisted column is the same sqrt(dot(v,v)) fold over the same
    # array, so dot/(na·nb) is bit-identical to the inline form.
    ca = c.join(assign, "nid").withColumn(
        "nrm", norm(F.col("v"))
    ).persist()
    ca.count()
    # Pair IDS first (narrow quadratic rows), spread, then attach the
    # vectors by id (guide §8: decide with small rows, move payloads
    # once): the cell equi-join hashes into at most n_cells partitions
    # and AQE coalesces them by the tiny INPUT bytes — blind to the
    # quadratic join output — so the pair cosines otherwise run on a
    # handful of tasks (measured 49 s at 3× scale; the §4
    # sparse_cosine disease). The keyless repartition spreads the
    # id pairs (16 B/row) across every core before the wide vectors
    # are attached; placement cannot change per-pair values.
    aid = ca.select(F.col("nid").alias("ai"), "cell")
    bid = ca.select(F.col("nid").alias("bi"), "cell")
    pid = (
        aid.join(bid, "cell")
        .filter(F.col("ai") < F.col("bi"))
        .select("ai", "bi")
        .repartition(c.sparkSession.sparkContext.defaultParallelism)
    )
    va = ca.select(
        F.col("nid").alias("ai"),
        F.col("v").alias("av"),
        F.col("nrm").alias("an"),
    )
    vb = ca.select(
        F.col("nid").alias("bi"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bn"),
    )
    in_cell = (
        pid.join(va, "ai")
        .join(vb, "bi")
        .select(
            "ai", "bi",
            F.floor(
                dot(F.col("av"), F.col("bv"))
                / (F.col("an") * F.col("bn"))
                * F.lit(1_000_000.0)
            ).cast("long").alias("cs"),
        )
    )
    # Symmetrize via the explode(array(struct...)) fan-out, NOT a
    # union of two projections — a union re-plans the pair join once
    # per branch (the r5 union-re-plan trap, k_truss fix).
    sym = in_cell.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ai").alias("src"),
                    F.col("bi").alias("dst"),
                    F.col("cs").alias("cs"),
                ),
                F.struct(
                    F.col("bi").alias("src"),
                    F.col("ai").alias("dst"),
                    F.col("cs").alias("cs"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.cs")
    rk = Window.partitionBy("src").orderBy(
        F.col("cs").desc(), F.col("dst").asc()
    )
    # Seed-clique edges (the long-range layer) are EXEMPT from the
    # top-M cut: ranked with in-cell neighbors they lose (cross-cell
    # cosines are low by construction) and the graph disconnects —
    # walks could never leave the entry cell.
    s1 = seeds.select(F.col("sid").alias("src"))
    s2 = seeds.select(F.col("sid").alias("dst"))
    clique_edges = s1.crossJoin(F.broadcast(s2)).filter(
        F.col("src") != F.col("dst")
    )  # broadcast-pinned: n_cells rows, never a CartesianProduct
    edges = (
        sym.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= m_edges)
        .select("src", "dst")
        .unionByName(clique_edges)
        .persist()
    )

    queries = c.filter(F.col("nid") % query_mod == 0).select(
        F.col("nid").alias("query_id"), F.col("v").alias("qv")
    ).persist()
    entry = c.agg(F.min("nid")).collect()[0][0]  # 1-row control fetch
    if entry is None:
        for f in (c, ca, edges, queries):
            f.unpersist()
        id_t = c.schema["nid"].dataType.simpleString()
        return emb.sparkSession.createDataFrame(
            [], f"query_id {id_t}, node bigint, cos_micro bigint"
        )
    # Eager materialization BEFORE the walk: each hop consumes `state`
    # twice (candidate join + move-if-better left join), so a lazy
    # unrolled plan doubles per hop — 2^hops copies of the whole graph
    # build racing the cache (the r3 self-referencing-DAG trap; eager
    # per-round persist is the k_truss ≥4-branch trade). One count
    # materializes the edge cache (and the pair scan behind it);
    # the assignment frame is only read by that build — release it.
    edges.count()
    ca.unpersist()
    ev = c.filter(F.col("nid") == entry).select(
        F.col("v").alias("nv")
    )
    # localCheckpoint, not persist: a persisted frame still carries its
    # full lineage into every downstream PLAN, so per-hop analysis cost
    # grows with the giant HOF cosine expressions nested hop-over-hop
    # (measured 1.2s → 3.5s by hop 4; the r5 connected_components
    # lesson). Checkpointing truncates the logical plan each hop.
    # qv rides IN the state (queries are few) so each hop is exactly
    # one edge join + one neighbor-vector join — no per-hop re-join
    # against the query frame.
    state = queries.crossJoin(F.broadcast(ev)).select(
        "query_id",
        "qv",
        F.lit(int(entry)).cast("long").alias("node"),
        cos_micro(F.col("qv"), F.col("nv")).alias("cos_micro"),
    ).localCheckpoint(eager=True)
    nb_emb = c.select(F.col("nid").alias("dst"), F.col("v").alias("nv"))
    for _ in range(hops):
        cand = (
            state.join(edges, state.node == edges.src)
            .join(nb_emb, "dst")
            .groupBy("query_id")
            .agg(
                F.max(
                    (cos_micro(F.col("qv"), F.col("nv")) + F.lit(shift))
                    * F.lit(enc_mod)
                    + (F.lit(enc_mod - 1) - F.col("dst"))
                ).alias("enc")
            )
            .select(
                "query_id",
                (F.lit(enc_mod - 1) - F.col("enc") % F.lit(enc_mod))
                .alias("bn"),
                # integer div — enc ≈ 2·10⁶·2³³ exceeds double's exact
                # range, float division here would corrupt the decode
                (F.expr(f"enc div {enc_mod}") - F.lit(shift)).alias("bc"),
            )
        )
        state = (
            state.join(cand, "query_id", "left")
            .select(
                "query_id",
                "qv",
                F.when(
                    F.col("bc") > F.col("cos_micro"), F.col("bn")
                ).otherwise(F.col("node")).alias("node"),
                F.greatest(
                    F.coalesce(F.col("bc"), F.lit(-2 * shift)),
                    F.col("cos_micro"),
                ).alias("cos_micro"),
            )
            .localCheckpoint(eager=True)
        )
    # Residency after return (the hits_int discipline): c, edges and
    # queries stay cached so repeat executions replay from cache;
    # bench clearCache bounds it. The returned state is a truncated
    # checkpoint scan — no lineage to replay.
    return state.select("query_id", "node", "cos_micro")


def seed_cell_assign(
    emb: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse semantic cells by seed-cosine argmax — the shared
    blocking primitive behind nsw_greedy_search's graph build and
    packing.similarity_pack's topic grouping: seeds are the n_cells
    LOWEST ids present (the ivf_assign convention), every vector joins
    its most-similar seed, ties → lower seed id via the integer
    argmax encode ``(cos_micro + 10⁶)·2³³ + (2³³−1−seed)``.

    Returns (id_col, cell, cos_micro) where cos_micro is the floored
    micro cosine TO THE CHOSEN SEED — the cohesion measure downstream
    orderings use. One corpus×n_cells broadcast cross, one aggregate.
    """
    enc_mod = 1 << 33
    shift = 1_000_000
    c = emb.select(
        F.col(id_col), to_double_array(F.col(vec_col)).alias("__v")
    )
    seeds = c.orderBy(id_col).limit(n_cells).select(
        F.col(id_col).alias("__sid"), F.col("__v").alias("__sv")
    )
    cosm = F.floor(
        cosine_similarity(F.col("__v"), F.col("__sv"))
        * F.lit(1_000_000.0)
    ).cast("long")
    return (
        c.crossJoin(F.broadcast(seeds))
        .groupBy(id_col)
        .agg(
            F.max(
                (cosm + F.lit(shift)) * F.lit(enc_mod)
                + (F.lit(enc_mod - 1) - F.col("__sid"))
            ).alias("__enc")
        )
        .select(
            id_col,
            (F.lit(enc_mod - 1) - F.col("__enc") % F.lit(enc_mod))
            .alias("cell"),
            (F.expr(f"__enc div {enc_mod}") - F.lit(shift))
            .alias("cos_micro"),
        )
    )
