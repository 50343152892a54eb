"""Text-analysis operators over a documents table (driver extension).

Thin DataFrame builders over drune_spark.functions.text — everything is
JVM-side column arithmetic (no UDFs), so these fuse into the scan stage
and cost one pass at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from drune_spark.functions.hashes import fingerprint_md5, rolling_min_fingerprint
from drune_spark.functions.text import (
    avg_token_length,
    lang_id,
    punct_ratio,
    quality_score,
    regex_token_count,
    stopword_ratio,
    token_count,
    tokens,
)


def text_profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc quality metrics: token counts, ratios, composite score."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        token_count(t).alias("n_tokens"),
        regex_token_count(t).alias("n_regex_tokens"),
        F.round(avg_token_length(t), 6).alias("avg_token_len"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(quality_score(t), 6).alias("quality_score"),
    )


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic marker-word language ID: (id, predicted_lang)."""
    return df.select(F.col(id_col), lang_id(F.col(text_col)).alias("predicted_lang"))


def fingerprints(df: DataFrame, text_col: str, id_col: str, k: int = 8) -> DataFrame:
    """Content fingerprints: md5 of normalized text + winnowing-style
    min-hash of char k-grams (near-dup resistant). Per-row md5 chains are
    CPU-bound → fan the input across cores first."""
    from drune_spark.functions.partitioning import fan_out
    df = fan_out(df)
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        fingerprint_md5(t).alias("fingerprint"),
        rolling_min_fingerprint(t, k).alias("rolling_fingerprint"),
    )


def repetition_profile(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition metrics per document (word-level: this
    corpus has no newlines; line-level metrics are the same machinery
    over split(text, '\\n')). One let-bound struct per document
    (``repetition_metrics``, shared with ``gopher_filter``) — one pass.

    Reference heuristic set: Rae et al. 2021 (Gopher) app. A1.1;
    reimagined as Spark column arithmetic (no counterpart in
    /root/reference — driver-mandated LLM-data extension).
    """
    from drune_spark.functions.partitioning import fan_out
    from drune_spark.functions.text import repetition_metrics

    # Interpreted-HOF work is CPU-bound per row: widen single-split
    # inputs first (on a real cluster parallelism comes from file
    # splits; locally one parquet file = one task).
    m = repetition_metrics(F.col(text_col), top_unigram=True)
    return fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), m.alias("__m")
    ).select(id_col, "__m.*").drop("avg_token_len")


def gopher_keep(
    m: Column,
    min_tokens: int = 30,
    max_tokens: int = 100_000,
    min_avg_token_len: float = 2.0,
    max_avg_token_len: float = 12.0,
    max_top_2gram_char_frac: float = 0.10,
    max_dup_3gram_char_frac: float = 0.60,
) -> Column:
    """The Gopher keep flag over a ``repetition_metrics`` struct ``m``:
    the document's length, mean token length and both repetition
    fractions within bounds. Evaluate it inside the ``let`` that binds
    ``m``, so the metrics (and the text under them) are computed once."""
    return (
        (m["n_tokens"] >= min_tokens)
        & (m["n_tokens"] <= max_tokens)
        & (m["avg_token_len"] >= min_avg_token_len)
        & (m["avg_token_len"] <= max_avg_token_len)
        & (m["top_2gram_char_frac"] <= max_top_2gram_char_frac)
        & (m["dup_3gram_char_frac"] <= max_dup_3gram_char_frac)
    )


def gopher_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    **thresholds,
) -> DataFrame:
    """Document-quality gate combining the repetition + shape heuristics:
    returns (id, n_tokens, metrics..., keep). ``thresholds`` are
    ``gopher_keep``'s bounds. Filter on ``keep`` to get the retained
    corpus; emitting the flag keeps both populations auditable (and
    oracle-checkable). No join, no data-dependent shuffle (fan_out
    round-robins single-split inputs for the CPU-bound gram folds). The
    flag sits in the same let-bound struct as the metrics, so a filter
    on ``keep`` pushed down to the scan carries one copy of the text
    expression, not one per metric reference."""
    from drune_spark.functions.partitioning import fan_out
    from drune_spark.functions.text import let, repetition_metrics

    g = let(repetition_metrics(F.col(text_col)),
            lambda m: m.withField("keep", gopher_keep(m, **thresholds)))
    return fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), g.alias("__m")
    ).select(id_col, "__m.*")


def collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    top_n: int = 100,
) -> DataFrame:
    """Corpus collocation mining: the top bigrams by LIFT — the
    integer-exact monotone transform of PMI:

        lift = P(ab) / (P(a)·P(b)) = n_ab·N_uni² / (N_bi·n_a·n_b)

    (PMI = log(lift); ranking by lift ≡ ranking by PMI, and staying in
    integers — scaled to ppm via one wide-decimal floor division —
    avoids cross-engine libm ``log`` rounding entirely.) The standard
    phrase-detection primitive (word2vec's phrase pass, n-gram
    tokenizer vocab induction) for training-corpus prep.

    Plan shape at 100 TB: two narrow explodes over the corpus, two
    token-keyed aggregates (map-side partial — vocabulary-sized
    outputs, not corpus-sized), corpus totals as broadcast single-row
    joins (no collect), bigram→unigram-count joins are vocab-sized,
    and the final top-n is TakeOrderedAndProject. Documents themselves
    never shuffle. ``min_count`` prunes the hapax tail before the
    joins — the classic noise filter (a bigram seen twice has huge
    lift by accident).

    Returns (w1, w2, n_ab, n_a, n_b, lift_ppm) — top_n by lift desc,
    ties by (w1, w2).
    """
    words = df.select(tokens(F.lower(F.col(text_col))).alias("w"))
    uni = (
        words.select(F.explode("w").alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bi = (
        words.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), i -> "
                    "named_struct('w1', element_at(w, i), "
                    "'w2', element_at(w, i + 1)))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    tot_u = uni.agg(F.sum("n").alias("nu"))
    tot_b = (
        words.filter(F.size("w") >= 2)
        .select((F.size("w") - 1).alias("k"))
        .agg(F.sum("k").alias("nb"))
    )
    joined = (
        bi.join(uni.select(F.col("t").alias("w1"), F.col("n").alias("n_a")),
                "w1")
        .join(uni.select(F.col("t").alias("w2"), F.col("n").alias("n_b")),
              "w2")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
    )
    out = joined.select(
        "w1", "w2", "n_ab", "n_a", "n_b",
        F.expr(
            "CAST(1000000 AS DECIMAL(38,0)) * n_ab * nu * nu"
            " div (CAST(nb AS DECIMAL(38,0)) * n_a * n_b)"
        ).alias("lift_ppm"),
    )
    return out.orderBy(
        F.col("lift_ppm").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(top_n)


def source_divergence(
    df: DataFrame,
    text_col: str,
    group_col: str,
    top_n: int = 10,
    min_count: int = 5,
) -> DataFrame:
    """Per-source distribution-drift screen: which tokens are most
    OVER/UNDER-represented in each source vs the whole corpus, by the
    per-cell chi-square contribution

        (n_st·N − n_s·n_t)² / (N·n_s·n_t)

    (n_st = token count in source, n_s = source size, n_t = corpus
    token count, N = corpus size). The data-mixture QA primitive: a
    source whose top contributions are boilerplate tokens is template
    spam; one whose top contributions are another language's stopwords
    is mislabeled. Computed in wide-decimal integer math scaled to ppb
    — one floor division per cell, no logs — so rankings are
    engine-exact (the log-free cousin of KL divergence; per-cell
    ranking is what matters for the screen).

    Plan shape at 100 TB: one corpus explode, three aggregates whose
    outputs are vocabulary-/source-sized (map-side partial), the
    corpus total as a broadcast single-row join (no collect), and the
    per-source top-n as a row_number window → WindowGroupLimit ships
    ≤ top_n rows per source per map task. ``min_count`` drops hapax
    cells (a once-seen token trivially maxes the statistic).

    Returns (src, token, n_st, n_s, n_t, contrib_ppb), top_n per
    source by (contrib_ppb desc, token).
    """
    from pyspark.sql import Window
    tok = (
        df.select(
            F.col(group_col).alias("src"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    st = tok.groupBy("src", "token").agg(F.count(F.lit(1)).alias("n_st"))
    s_tot = tok.groupBy("src").agg(F.count(F.lit(1)).alias("n_s"))
    t_tot = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_t"))
        .filter(F.col("n_t") >= min_count)
    )
    n_all = tok.agg(F.count(F.lit(1)).alias("n_corpus"))
    joined = (
        st.join(t_tot, "token")
        .join(s_tot, "src")
        .crossJoin(F.broadcast(n_all))
    )
    diff = (
        "(CAST(n_st AS DECIMAL(38,0)) * n_corpus"
        " - CAST(n_s AS DECIMAL(38,0)) * n_t)"
    )
    contrib = (
        f"CAST(1000000000 AS DECIMAL(38,0)) * {diff} * {diff}"
        f" div (CAST(n_corpus AS DECIMAL(38,0)) * n_s * n_t)"
    )
    scored = joined.select(
        "src", "token", "n_st", "n_s", "n_t",
        F.expr(contrib).alias("contrib_ppb"),
    )
    w = Window.partitionBy("src").orderBy(
        F.col("contrib_ppb").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .drop("rn")
    )


def token_frequency_score(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Corpus-relative token-frequency quality signal (the cheap,
    engine-exact proxy for CCNet-style LM-perplexity filtering): per doc,
    the average corpus frequency of its tokens and the fraction of
    "rare" tokens — rare ⟺ c(w) * V < N (below-mean frequency, computed
    by integer cross-multiplication so there is no FP-order dependence;
    log-prob averages would sum doubles in partition order and break
    reproducibility).

    Plan: explode tokens (narrow) → one groupBy(w) for the frequency
    table → token⋈freq join (AQE broadcasts the table when it fits —
    vocab ≪ corpus) → per-doc partial agg. Shuffles carry tokens and
    counts, never documents.
    """
    from drune_spark.functions.text import tokens

    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
    )
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    totals = freq.agg(
        F.sum("c").alias("N"), F.count(F.lit(1)).alias("V")
    )
    j = toks.join(freq, "w").crossJoin(F.broadcast(totals))
    return (
        j.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c").alias("__sum_c"),
            F.sum(
                F.when(F.col("c") * F.col("V") < F.col("N"), 1).otherwise(0)
            ).alias("__n_rare"),
        )
        .select(
            id_col,
            "n_tokens",
            F.round(
                F.col("__sum_c").cast("double") / F.col("n_tokens"), 6
            ).alias("avg_token_freq"),
            F.round(
                F.col("__n_rare").cast("double") / F.col("n_tokens"), 6
            ).alias("rare_token_frac"),
        )
    )


def vocab_coverage(
    docs: DataFrame,
    vocab_size: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document vocabulary coverage against the corpus's own
    top-``vocab_size`` tokens — the OOV-rate screen run before
    committing to a tokenizer/vocab: documents with high out-of-vocab
    ratios are misencoded, off-language, or boilerplate.

    One tokenize pass feeds BOTH sides: the vocabulary (one token-count
    agg + TakeOrdered top-k, tie-broken (count desc, token)) and the
    per-doc token stream. The vocab is broadcast (≤ vocab_size rows) —
    documents never shuffle; the per-doc agg is map-side partial.
    OOV share as exact integer ppm (n_oov·10⁶ div n_tokens):
    parallelism-invariant.

    Returns (doc_id, n_tokens, n_oov, oov_ppm).
    """
    from drune_spark.functions.text import tokens

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
    ).filter(F.length("w") > 0)
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.col("__n").desc(), F.col("w").asc())
        .limit(vocab_size)
        .select("w", F.lit(1).alias("__in_vocab"))
    )
    tagged = toks.join(F.broadcast(vocab), "w", "left")
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("(n_oov * 1000000L) div n_tokens").alias("oov_ppm"),
        )
    )


def keyword_extract(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top_k: int = 3,
    min_tf: int = 2,
) -> DataFrame:
    """Distinctive-keyword extraction per document — the all-integer
    TF-IDF rank: terms ordered by (tf DESC, df ASC, term ASC) per doc,
    top ``top_k`` kept. The (tf, df) lexicographic order is the exact
    argmax of tf/df monotone scorings without ever computing a float
    (idf's log is monotone-decreasing in df), so the result is
    bit-reproducible on any engine — no libm, no ties left to chance.

    Plan at 100 TB: one explode to (doc, term, tf) cells (shuffle
    carries terms, never documents), a doc-count-sized df aggregate
    joined back on term, then a per-doc WindowGroupLimit for the top-k
    (rank ≤ k prunes below the Exchange — map tasks ship ≤ k rows per
    doc per partition).

    Returns (doc_id, term, tf, df, rank).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    docfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = tf.filter(F.col("tf") >= min_tf).join(docfreq, "term")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("doc_id", "term", "tf", "df", "rank")
    )


def dsir_scores(
    df: DataFrame,
    target_source: str = "src0",
    buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """DSIR-style importance scoring (Xie et al. 2023, arXiv:2302.03169):
    score each document by how much its hashed n-gram feature profile
    looks like a target domain, for importance-resampled data selection.
    DSIR's weight is log p_target(f) − log p_raw(f) summed over doc
    features; this variant keeps the same structure with integer-rational
    weights — ``w(f) = target_count(f) · 10⁶ div raw_count(f)`` — so the
    score is engine-exact (no libm log in the hash-checked path; the
    monotone ranking DSIR needs is preserved within each feature).

    Shape: one explode pass builds (doc, feature) occurrences with
    ``feature = md5_u32(word) mod buckets`` (the paper's hashed feature
    space); the per-feature raw/target counts aggregate to a
    ``buckets``-row table that is broadcast back onto the occurrence
    stream; per-doc scores are one more partial-aggregated sum.

    Scale notes: the feature table is O(buckets) — broadcast, never a
    shuffle of the corpus side; the two corpus passes (feature counts,
    doc scores) are independent scans so nothing corpus-sized is
    persisted or re-shuffled. Raw counts dominate target counts by
    construction (target ⊆ corpus), so weights fit comfortably in longs.

    Returns (id_col, n_tokens, dsir_score).
    """
    from drune_spark.functions.hashes import md5_u32

    occ = df.select(
        F.col(id_col),
        F.col(source_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"),
    ).withColumn("f", F.pmod(md5_u32(F.col("word")), F.lit(buckets)))
    feat = occ.groupBy("f").agg(
        F.count(F.lit(1)).alias("raw_cnt"),
        F.count_if(F.col(source_col) == target_source).alias("target_cnt"),
    )
    weights = feat.select(
        "f",
        F.expr("target_cnt * 1000000 div raw_cnt").alias("w"),
    )
    return (
        occ.join(F.broadcast(weights), "f")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w").alias("dsir_score"),
        )
    )


def freq_spectrum(
    df: DataFrame,
    text_col: str = "text",
    max_r: int = 10,
    ngram: int = 3,
) -> DataFrame:
    """N-gram frequency-of-frequencies spectrum with simple Good-Turing
    adjusted counts (Gale & Sampson 1995): N_r = number of word
    ``ngram``-gram types occurring exactly r times; the GT adjusted
    count r* = (r+1)·N_{r+1}/N_r estimates how much probability mass
    the r-count types actually deserve — the classic smoothing
    diagnostic for corpus frequency estimates (and the Zipf-tail health
    check for a training corpus: a depleted N_1 band signals heavy
    duplication). N-gram types rather than unigrams because the
    singleton/doubleton bands — where GT matters — live in the n-gram
    tail for any corpus whose unigram vocabulary saturates.

    Integer-rational output (``r_star_ppm = (r+1)·N_{r+1}·10⁶ div N_r``,
    0 where N_{r+1} is empty) so both engines agree exactly.

    Scale notes: one corpus pass builds (ngram-key, count) cells — the
    only corpus-sized shuffle, and it carries 32-bit md5 keys instead of
    n-gram strings (the novelty_score trick: same counts, ~5× less
    shuffle volume; the oracle hashes identically so any collision
    merges the same types on both engines). The spectrum aggregate and
    the N_{r+1} self-join run on the count-histogram table, whose size
    is bounded by the distinct count values (≪ type count). ``max_r``
    bounds the reported band.

    Returns (r, n_types, n_tokens, r_star_ppm).
    """
    from drune_spark.functions.hashes import md5_u32

    # Position explode + per-row element_at, no HOF lambdas: the
    # transform form ran interpreted (md5 + slice re-splitting the
    # text per element — the ngram_diversity lesson).
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    t, i = F.col("__t"), F.col("i")
    n = F.size(t) - F.lit(ngram - 1)
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.expr("cast(array() as array<int>)")
    )
    wc = (
        df.select(toks.alias("__t"))
        .select("__t", F.explode(idx).alias("i"))
        .select(
            md5_u32(
                F.concat_ws(
                    " ",
                    *[F.element_at(t, i + j) for j in range(ngram)],
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    spec = wc.groupBy("r").agg(F.count(F.lit(1)).alias("n_types"))
    nxt = spec.select(
        (F.col("r") - 1).alias("r"), F.col("n_types").alias("n_types_next")
    )
    return (
        spec.join(nxt, "r", "left")
        .filter(F.col("r") <= max_r)
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("n_types").cast("long").alias("n_types"),
            (F.col("r") * F.col("n_types")).cast("long").alias("n_tokens"),
            F.expr(
                "(r + 1) * coalesce(n_types_next, 0) * 1000000 div n_types"
            ).alias("r_star_ppm"),
        )
    )


def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    max_n: int = 3,
) -> DataFrame:
    """Per-group n-gram diversity (type/token ratio for n = 1..max_n)
    — the distinct-n metric used to screen generated/templated corpora
    (low distinct-2/3 = repetitive text): n_total token n-grams,
    n_distinct types, and their ratio in exact integer ppm.

    ONE corpus scan: each document emits all n-gram sizes as a single
    concatenated array of (n, gram) structs (tagged per size), so the
    explode + the (group, n, hash) shuffle happen once, not per n.
    Grams shuffle as 32-bit md5 keys, never strings (the
    novelty_score volume trick; the oracle hashes identically so any
    collision merges the same way on both engines).

    This is WITHIN-corpus repetition — the complement of
    novelty_score's cross-document shingle uniqueness screen.
    """
    from drune_spark.functions.hashes import md5_u32

    # Two plain explodes, zero higher-order functions: HOF lambdas run
    # INTERPRETED (outside whole-stage codegen) and measured 18.9s for
    # this op at sf0.1; the position-explode + per-row element_at form
    # stays fully codegen'd (~1s). Row 1: every token position; row 2:
    # one (n, gram) struct per size, NULL gram where the window runs
    # off the end (filtered — counts match the windowed form exactly).
    t = F.col("__t")
    i = F.col("i")
    base = df.select(
        F.col(group_col), tokens(F.lower(F.col(text_col))).alias("__t")
    )
    pos = base.select(
        group_col, "__t",
        F.explode(F.sequence(F.lit(1), F.greatest(F.size(t), F.lit(1))))
        .alias("i"),
    )
    gram_structs = [
        F.struct(
            F.lit(n).alias("n"),
            F.when(
                i + (n - 1) <= F.size(t),
                F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(n)]
                ),
            ).alias("gram"),
        )
        for n in range(1, max_n + 1)
    ]
    grams = (
        pos.select(
            group_col, F.explode(F.array(*gram_structs)).alias("g")
        )
        .filter(F.col("g.gram").isNotNull())
        .select(
            group_col,
            F.col("g.n").alias("n"),
            md5_u32(F.col("g.gram")).alias("h"),
        )
    )
    return grams.groupBy(group_col, "n").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_distinct(F.col("h")).alias("n_distinct"),
        F.expr("count(distinct h) * 1000000 div count(1)").alias(
            "ttr_ppm"
        ),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    top_ranks: int = 64,
) -> DataFrame:
    """Zipf rank-frequency fit per group: OLS slope of ln(freq) on
    ln(rank) over the top ``top_ranks`` word frequencies — natural
    corpora sit near slope ≈ −1 (Zipf 1949); templated or generated
    slices drift off it, making the slope a cheap distribution-level
    screen to pair with the per-doc quality filters.

    Exact cross-engine arithmetic: ln(rank)/ln(freq) are floored to
    integer 1e-4 units (ONE libm op per value — ln is bit-identical
    across engines — then an exact floor), so the OLS sufficient
    statistics are ORDER-FREE integer sums; slope and r² are single
    shared-op-order double expressions over those exact integers
    (the grouped_ols precedent, with the log transform integerized).

    Cost: one corpus scan → (group, word) cells; ranking is a
    per-group window over word cells; the fit is a ``top_ranks``-cell
    aggregate.

    Returns (group_col, n_ranks, slope, r2); groups with fewer than 2
    ranked words emit NULL slope/r².
    """
    from pyspark.sql import Window

    words = (
        df.select(
            F.col(group_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy(group_col, "w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    win = Window.partitionBy(group_col).orderBy(
        F.col("freq").desc(), F.col("w").asc()
    )
    ranked = (
        words.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= top_ranks)
        .select(
            group_col,
            F.floor(F.log(F.col("rank").cast("double")) * 10000.0)
            .alias("x"),
            F.floor(F.log(F.col("freq").cast("double")) * 10000.0)
            .alias("y"),
        )
    )
    sums = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # Shared written op order with the oracle — exact ints in, one
    # double chain out.
    return sums.select(
        group_col,
        F.col("n").cast("int").alias("n_ranks"),
        F.expr(
            "CASE WHEN n * sxx - sx * sx = 0 THEN NULL "
            "ELSE CAST(n * sxy - sx * sy AS DOUBLE) "
            "     / CAST(n * sxx - sx * sx AS DOUBLE) END"
        ).alias("slope"),
        F.expr(
            "CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 "
            "THEN NULL "
            "ELSE CAST(n * sxy - sx * sy AS DOUBLE) "
            "     * CAST(n * sxy - sx * sy AS DOUBLE) "
            "     / (CAST(n * sxx - sx * sx AS DOUBLE) "
            "        * CAST(n * syy - sy * sy AS DOUBLE)) END"
        ).alias("r2"),
    )


def doc_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document corpus-trained unigram surprisal — the shared loss
    primitive behind ``unigram_surprisal`` (tercile bucketing) and
    ``sampling.doremi_reweight`` (domain excess loss). One tokenize
    explode, a vocabulary aggregate, the integer floor-log2 bit cost
    ``length(base2(N div n_t))`` per token, and a doc-sized aggregate.
    Docs with no non-empty tokens are absent from the output (inner
    token join) — callers must not assume full coverage.

    Returns (id_col, n_tokens, sum_bits, mean_millibits) — all
    integer, engine-exact (DuckDB mirror: ``length(printf('%b', x))``).
    """
    tok = (
        df.select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
        )
        .filter(F.col("token") != "")
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_t"))
    total = vocab.agg(F.sum("n_t").cast("long").alias("n_corpus"))
    bits = (
        vocab.crossJoin(F.broadcast(total))
        .select(
            "token",
            F.length(
                F.conv(F.expr("CAST(n_corpus div n_t AS STRING)"), 10, 2)
            )
            .cast("long")
            .alias("surprisal_bits"),
        )
    )
    return (
        tok.join(bits, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("surprisal_bits").alias("sum_bits"),
        )
        .withColumn(
            "mean_millibits",
            F.expr("sum_bits * 1000 div n_tokens"),
        )
    )


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style LM-quality bucketing (Wenzek et al. 2020,
    arXiv:1911.00359 §4.4): train a unigram model on the corpus itself,
    score every document by mean per-token surprisal, and split the
    corpus into head/middle/tail terciles — the classic
    perplexity-partition step before sampling cleaner training data.

    Exactness contract: per-token surprisal is the FLOOR-log2 bit cost
    ``bits(N div n_t) = length(base2(N div n_t))`` — pure integer
    division plus a base-2 digit count, so no engine's ``ln``/libm can
    diverge (DuckDB mirrors with ``length(printf('%b', x))``; verified
    digit-exact against Spark's ``conv(x, 10, 2)``). Doc score =
    Σ bits · 1000 div n_tokens (integer milli-bits/token). Tercile
    cutoffs use exact ``percentile`` (== DuckDB ``quantile_cont``
    bit-for-bit, proven in round 3), broadcast as a single row — no
    global row sort, no ntile single-partition window.

    Plan shape at 100 TB: one corpus explode feeding a vocabulary-sized
    aggregate (map-side partial), the (token → bits) table re-joined to
    the token stream (AQE broadcasts it — vocabularies are small), one
    doc-sized aggregate, and a 1-row cutoff broadcast. The exact
    percentile over doc means is the gate's audit-scale choice; the
    production swap is ``approx_percentile`` with the same CASE banding.

    Returns (id_col, n_tokens, sum_bits, mean_millibits, bucket).
    """
    doc = doc_surprisal(df, text_col=text_col, id_col=id_col)
    cuts = doc.agg(
        F.expr(
            "percentile(mean_millibits, array(1D/3, 2D/3))"
        ).alias("cut")
    ).select(
        F.col("cut")[0].alias("c1"), F.col("cut")[1].alias("c2")
    )
    return (
        doc.crossJoin(F.broadcast(cuts))
        .select(
            id_col,
            "n_tokens",
            "sum_bits",
            "mean_millibits",
            F.when(F.col("mean_millibits") <= F.col("c1"), F.lit("head"))
            .when(F.col("mean_millibits") <= F.col("c2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram-LM document scoring — the conditional-context upgrade of
    :func:`unigram_surprisal` (KenLM-style corpus LM filtering, Heafield
    2011, as used by CCNet/RefinedWeb; the reference engine has no text
    ops — LLM-data mandate). Per-bigram cost is the FLOOR-log2 bit
    count of the inverse conditional probability,
    ``bits(w1 w2) = bitlen(c(w1 ·) div c(w1 w2))`` — pure integer
    division + base-2 digit length, so no ``ln``/libm divergence
    between engines (same exactness contract as unigram_surprisal;
    DuckDB mirrors with ``length(printf('%b', x))``). ``c(w1 ·)`` is
    the count of bigrams STARTING with w1 (the LM denominator), not the
    raw unigram count. Doc score = Σ bits · 1000 div n_bigrams
    (integer milli-bits per bigram).

    Plan shape at 100 TB: the bigram stream is explode(sequence) +
    element_at — whole-stage codegen, NOT a HOF lambda (the r5
    interpreted-transform trap) — feeding two vocabulary-sized
    aggregates (map-side partial) that re-join the stream (AQE
    broadcasts bigram vocabularies; they are corpus-sublinear). Text
    itself never shuffles — only (id, w1, w2) cells move. Docs with
    fewer than two tokens carry no bigram and drop out (documented;
    the caller unions them back with a sentinel if needed).

    Returns (id_col, n_bigrams, sum_bits, mean_millibits).
    """
    base = df.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("arr"),
    ).filter(F.size("arr") >= 2)
    big = base.select(
        id_col,
        F.explode(F.expr("sequence(1, size(arr) - 1)")).alias("i"),
        "arr",
    ).select(
        id_col,
        F.element_at("arr", F.col("i")).alias("w1"),
        F.element_at("arr", F.col("i") + 1).alias("w2"),
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    bits = c12.join(c1, "w1").select(
        "w1",
        "w2",
        F.length(F.conv(F.expr("CAST(n1 div n12 AS STRING)"), 10, 2))
        .cast("long")
        .alias("bigram_bits"),
    )
    return (
        big.join(bits, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("bigram_bits").alias("sum_bits"),
        )
        .withColumn(
            "mean_millibits", F.expr("sum_bits * 1000 div n_bigrams")
        )
    )


def lexicon_screen(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    lexicon: list[str] | None = None,
    flag_ppm: int = 60_000,
) -> DataFrame:
    """Word-list content screen (the C4 "bad words" filter shape,
    Raffel et al. 2020 §2.2): per-document lexicon hit rate in integer
    ppm of tokens, a document flag when the rate crosses ``flag_ppm``,
    rolled up per source — the release-gate view (which slices of the
    corpus carry flaggable density). The lexicon here is a
    deterministic placeholder over the synthetic vocabulary; swap in a
    real blocklist unchanged.

    Per-word counting is the codegen array identity
    ``size(toks) − size(array_remove(toks, w))`` (the langid_confusion
    trick — no interpreted HOF lambda, no explode), so the whole
    screen fuses into the scan: one pass, one source-sized aggregate.

    Returns (source, n_docs, n_flagged, flag_count_ppm, tot_hits,
    max_hit_ppm) per source.
    """
    lex = lexicon if lexicon is not None else ["slow", "dup"]
    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(
        F.col(source_col).alias("source"),
        toks.alias("w"),
        token_count(F.col(text_col)).alias("n_tok"),
    )
    hits = None
    for wd in lex:
        h = F.size(F.col("w")) - F.size(F.array_remove(F.col("w"), wd))
        hits = h if hits is None else hits + h
    scored = base.select(
        "source",
        hits.cast("long").alias("n_hits"),
        "n_tok",
    ).withColumn(
        "hit_ppm",
        F.expr("CASE WHEN n_tok > 0 THEN n_hits * 1000000 div n_tok ELSE 0 END"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("hit_ppm") >= flag_ppm).cast("long")).alias("n_flagged"),
            F.sum("n_hits").alias("tot_hits"),
            F.max("hit_ppm").alias("max_hit_ppm"),
        )
        .withColumn(
            "flag_count_ppm", F.expr("n_flagged * 1000000 div n_docs")
        )
        .select(
            "source", "n_docs", "n_flagged", "flag_count_ppm",
            "tot_hits", "max_hit_ppm",
        )
    )


def boilerplate_df_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 20,
    min_df: int = 2,
) -> DataFrame:
    """Document-frequency boilerplate removal (RefinedWeb, Penedo et
    al. 2023 §3.2 / CCNet line filtering): segments whose normalized
    text occurs in ≥ ``min_df`` DISTINCT documents are boilerplate
    (headers, nav bars, license blocks) and are dropped from EVERY
    document — the complement of segment_dedup (dedup.py:972), which
    keeps a single survivor per duplicated paragraph. The corpus has no
    paragraph breaks, so segmentation is the same deterministic
    ``seg_words`` word windows segment_dedup uses.

    Plan shape at 100 TB: the segment build is the de-HOF'd
    position-explode (posexplode over a sequence + slice — fully
    codegen, round-5 rule); the DF aggregate shuffles (md5 fp → 16
    bytes + doc id) cells, never segment text; the boiler set is
    df-capped and joined back fp-to-fp; per-doc stats are one
    doc-sized aggregate plus a left join so fully-boilerplate docs
    surface with n_kept = 0, not as dropped rows.

    Returns (id_col, n_segments, n_boiler, n_kept, kept_chars).
    """
    toks = df.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("w"),
    ).withColumn(
        "n_segments", F.expr(f"(size(w) + {seg_words - 1}) div {seg_words}")
    )
    segs = toks.select(
        id_col,
        "n_segments",
        F.posexplode(F.sequence(F.lit(0), F.col("n_segments") - 1)).alias(
            "pos", "i"
        ),
        F.col("w"),
    ).select(
        id_col,
        "n_segments",
        "pos",
        F.concat_ws(
            " ", F.slice(F.col("w"), F.col("pos") * seg_words + 1, seg_words)
        ).alias("seg"),
    )
    segs = segs.select(
        id_col, "n_segments", "pos",
        F.md5(F.col("seg")).alias("fp"),
        F.length(F.col("seg")).alias("seg_chars"),
    )
    boiler = (
        segs.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("df_docs"))
        .filter(F.col("df_docs") >= min_df)
        .select("fp", F.lit(1).alias("is_boiler"))
    )
    tagged = segs.join(boiler, "fp", "left")
    per_doc = tagged.groupBy(id_col).agg(
        F.first("n_segments").alias("n_segments"),
        F.sum(F.coalesce(F.col("is_boiler"), F.lit(0))).alias("n_boiler"),
        F.sum(
            F.when(F.col("is_boiler").isNull(), F.col("seg_chars")).otherwise(0)
        ).alias("kept_chars"),
    )
    return per_doc.select(
        id_col,
        "n_segments",
        "n_boiler",
        (F.col("n_segments") - F.col("n_boiler")).alias("n_kept"),
        "kept_chars",
    )


def filter_cascade(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sequential quality-filter attrition report — the pipeline-design
    artifact every corpus paper publishes (e.g. RefinedWeb Fig. 2,
    Gopher Table A1): documents flow through an ORDERED rule cascade
    and each is charged to the FIRST stage that rejects it, yielding
    per-stage in/dropped/out counts. The stages here are integer-exact
    versions of the standard screens: minimum token count, mean word
    length (as the cross-multiplied ``Σ len ≤ 8·n``), an English
    function-word presence check, and exact-hash dedup (keep-first by
    min doc id).

    One corpus scan computes the three row-local predicates; the dedup
    stage adds one fp-cell aggregate + a broadcast-able join; the
    4-row cascade table then aggregates by first-failing stage. No
    per-doc output — the report is stage-sized at any corpus scale.

    Returns (stage, stage_name, n_in, n_dropped, n_out) ordered by stage.
    """
    toks = tokens(F.col(text_col))
    norm = F.lower(F.trim(F.col(text_col)))
    base = df.select(
        F.col(id_col),
        toks.alias("w"),
        token_count(F.col(text_col)).alias("n_tok"),
        F.md5(norm).alias("fp"),
    )
    keep_first = base.groupBy("fp").agg(F.min(id_col).alias("keep_id"))
    staged = base.join(keep_first, "fp").select(
        F.col(id_col),
        (F.col("n_tok") >= 10).alias("c1"),
        (
            F.aggregate(
                F.col("w"), F.lit(0), lambda acc, x: acc + F.length(x)
            )
            <= F.col("n_tok") * 8
        ).alias("c2"),
        ((F.size(F.col("w")) - F.size(F.array_remove(F.col("w"), "the"))) >= 1).alias("c3"),
        (F.col(id_col) == F.col("keep_id")).alias("c4"),
    )
    fail = staged.select(
        F.when(~F.col("c1"), 1)
        .when(~F.col("c2"), 2)
        .when(~F.col("c3"), 3)
        .when(~F.col("c4"), 4)
        .otherwise(0)
        .alias("fail_stage")
    )
    counts = fail.groupBy("fail_stage").agg(F.count(F.lit(1)).alias("n"))
    names = F.create_map(
        F.lit(1), F.lit("min_tokens"),
        F.lit(2), F.lit("mean_word_len"),
        F.lit(3), F.lit("has_function_word"),
        F.lit(4), F.lit("exact_dup"),
    )
    # A fixed 0..4 skeleton (0 = passed all) left-joined to the drop
    # counts keeps zero-drop stages in the report WITHOUT referencing
    # the counts aggregate twice (a total-row branch would re-plan the
    # whole corpus subtree per branch — the self-referencing-DAG trap);
    # totals and cumulative drops are two windows over the same 5-row
    # frame, one pass over counts.
    from pyspark.sql import Window

    skeleton = df.sparkSession.range(0, 5).select(
        F.col("id").cast("int").alias("stage")
    )
    joined = skeleton.join(
        counts.withColumnRenamed("fail_stage", "stage"), "stage", "left"
    ).withColumn("n_dropped", F.coalesce(F.col("n"), F.lit(0)).cast("long"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, -1)
    report = (
        joined.withColumn("n_total", F.sum("n_dropped").over(w_all))
        .filter(F.col("stage") >= 1)
        .withColumn(
            "dropped_before",
            F.coalesce(
                F.sum(F.when(F.col("stage") >= 1, F.col("n_dropped"))).over(
                    w_cum
                ),
                F.lit(0),
            ),
        )
        .select(
            "stage",
            names[F.col("stage")].alias("stage_name"),
            (F.col("n_total") - F.col("dropped_before")).alias("n_in"),
            "n_dropped",
            (F.col("n_total") - F.col("dropped_before") - F.col("n_dropped")).alias("n_out"),
        )
    )
    return report


def threshold_sweep(
    df: DataFrame,
    text_col: str,
    thresholds: list[int] | None = None,
) -> DataFrame:
    """Retention curve for a min-token quality cutoff — the
    pick-the-threshold artifact that precedes every fixed filter
    (filter_cascade reports attrition for a CHOSEN pipeline; this
    reports what each CANDIDATE cutoff would cost): for each
    threshold T, how many documents and how much token mass survive
    ``n_tokens >= T``.

    One corpus pass: per-doc token count (codegen split-size), then an
    explode over the |T|-element threshold array — (docs × |T|) cells
    into one aggregate, no per-threshold rescans, no totals join. At
    100 TB the sweep costs the same scan the filter itself would.

    Returns (threshold, docs_kept, tokens_kept) ordered by threshold.
    """
    thresholds = thresholds or [10, 25, 50, 100, 200]
    n = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    cells = df.select(n.alias("n")).select(
        "n",
        F.explode(
            F.array(*[F.lit(int(t)) for t in sorted(thresholds)])
        ).alias("threshold"),
    )
    keep = (F.col("n") >= F.col("threshold")).cast("long")
    return (
        cells.groupBy("threshold")
        .agg(
            F.sum(keep).alias("docs_kept"),
            F.sum(keep * F.col("n")).alias("tokens_kept"),
        )
        .orderBy("threshold")
    )


def heldout_bigram_bits(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    salt: str = "ho1",
    train_pct: int = 70,
) -> DataFrame:
    """Held-out bigram-LM evaluation — the GENERALIZATION complement
    of :func:`bigram_surprisal` (which scores the corpus under a model
    trained on the same corpus): a deterministic hash split
    (md5 % 100 < train_pct — the hash_sample idiom) trains the counts,
    and only the HELD-OUT docs are scored, with add-one smoothing so
    out-of-vocabulary bigrams are well-defined:
    ``bits = bitlen((c(w1·) + V) div (c(w1 w2) + 1))`` with V = train
    w1 vocabulary. All integer (floor-log2 digit length, the
    conv/printf parity) — no ln, no float smoothing — so the oracle
    replays the split, the counts and every backoff exactly.

    Rolled up per source: which corpus slices the model generalizes
    worst to (high mean bits / high OOV share = the slice that needs
    more training representation — the data-mixing steering signal).

    Plan shape: two vocabulary-sized train aggregates re-join the
    held-out cell stream (AQE broadcasts; corpus-sublinear); the V
    scalar is a bounded 1-row cross (totals pattern). Text never
    shuffles — only (source, w1, w2) cells.

    Returns (source, n_bigrams, oov_bigrams, sum_bits, mean_millibits)
    ordered by source.
    """
    from drune_spark.functions.hashes import md5_u32

    is_train = (
        F.pmod(
            md5_u32(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
            F.lit(100),
        )
        < train_pct
    )
    base = df.select(
        F.col(id_col),
        F.col(source_col).alias("source"),
        is_train.alias("tr"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("arr"),
    ).filter(F.size("arr") >= 2)
    big = base.select(
        "source",
        "tr",
        F.explode(F.expr("sequence(1, size(arr) - 1)")).alias("i"),
        "arr",
    ).select(
        "source",
        "tr",
        F.element_at("arr", F.col("i")).alias("w1"),
        F.element_at("arr", F.col("i") + 1).alias("w2"),
    )
    train = big.filter("tr")
    c12 = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = train.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    v = c1.agg(F.count(F.lit(1)).cast("long").alias("v"))
    test = (
        big.filter(~F.col("tr"))
        .join(c12, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "source",
            F.coalesce("n12", F.lit(0)).alias("n12"),
            F.coalesce("n1", F.lit(0)).alias("n1"),
            "v",
        )
        .select(
            "source",
            (F.col("n12") == 0).cast("long").alias("oov"),
            F.length(
                F.conv(
                    F.expr("CAST((n1 + v) div (n12 + 1) AS STRING)"),
                    10, 2,
                )
            ).cast("long").alias("bits"),
        )
    )
    return (
        test.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("oov").alias("oov_bigrams"),
            F.sum("bits").alias("sum_bits"),
        )
        .withColumn(
            "mean_millibits", F.expr("sum_bits * 1000 div n_bigrams")
        )
        .orderBy("source")
    )


def needle_insert(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    depth_levels: int = 5,
    needle_prefix: str = "NDL",
) -> DataFrame:
    """Needle-in-a-haystack eval-set synthesis (Kamradt's NIAH probe,
    the standard long-context retrieval eval): splice a unique,
    id-derived needle token into each haystack document at a
    deterministic depth — ``depth_pct = (id % depth_levels) · 100
    div (depth_levels − 1)``, interpolated so the sweep always spans
    0..100 INCLUSIVE for any level count (a per-level integer step
    would floor to 0 past 101 levels and never reach the end-of-
    context cell for non-divisor counts); insert position =
    ``n_tokens · depth_pct div 100`` whole tokens in — every
    (document, depth) cell reproducible from ids alone.

    Row-local string/array work that fuses into the scan; the emitted
    fingerprint ``substr(md5(spliced_text), 1, 8)`` proves the EXACT
    splice (token order, single-space joins) against the oracle, so
    the gate verifies placement, not just counts. Empty/whitespace
    documents are excluded (no token grid to index into).

    Returns (id_col, n_tokens, depth_pct, insert_pos, needle, fp).
    """
    if depth_levels < 2:
        raise ValueError("needle_insert needs depth_levels >= 2")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    needle = F.concat(F.lit(needle_prefix), F.col(id_col).cast("string"))
    depth = F.expr(
        f"(({id_col} % {depth_levels}) * 100) div {depth_levels - 1}"
    ).cast("long")
    base = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col),
            toks.alias("__w"),
            needle.alias("needle"),
            depth.alias("depth_pct"),
        )
        .withColumn("n_tokens", F.size("__w").cast("long"))
        .withColumn(
            "insert_pos",
            F.expr("n_tokens * depth_pct div 100").cast("long"),
        )
    )
    spliced = F.array_join(
        F.concat(
            F.expr("slice(__w, 1, cast(insert_pos as int))"),
            F.array(F.col("needle")),
            F.expr(
                "slice(__w, cast(insert_pos as int) + 1, "
                "cast(n_tokens - insert_pos as int))"
            ),
        ),
        " ",
    )
    return base.select(
        id_col,
        "n_tokens",
        "depth_pct",
        "insert_pos",
        "needle",
        F.substring(F.md5(spliced), 1, 8).alias("fp"),
    )


def niah_oracle_sql(
    depth_levels: int = 5, needle_prefix: str = "NDL"
) -> str:
    """DuckDB mirror of ``needle_insert`` over the documents table —
    GENERATED from the same constants the Spark side uses so the two
    cannot drift (the chat_turns_oracle_cte convention)."""
    lv, lm = int(depth_levels), int(depth_levels) - 1
    return f"""
        WITH nh AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS w,
                   '{needle_prefix}' || CAST(doc_id AS VARCHAR)
                       AS needle,
                   CAST(((doc_id % {lv}) * 100) // {lm} AS BIGINT)
                       AS depth_pct
            FROM documents WHERE length(trim(text)) > 0
        ),
        nx AS (
            SELECT doc_id, w, needle, depth_pct,
                   CAST(len(w) AS BIGINT) AS n_tokens,
                   CAST(len(w) AS BIGINT) * depth_pct // 100
                       AS insert_pos
            FROM nh
        )
        SELECT doc_id, n_tokens, depth_pct, insert_pos, needle,
               substr(md5(array_to_string(
                   list_concat(
                       list_concat(
                           w[1:CAST(insert_pos AS INTEGER)],
                           [needle]),
                       w[CAST(insert_pos AS INTEGER) + 1
                         :CAST(n_tokens AS INTEGER)]),
                   ' ')), 1, 8) AS fp
        FROM nx
    """


TERMINAL_PUNCT = (".", "!", "?", '"')


def terminal_punct_screen(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """C4-style terminal-punctuation screen (Raffel et al. 2020 §2.2 —
    "retain lines ending in terminal punctuation"): documents whose
    trimmed text does NOT end in ``. ! ?`` or a closing quote are
    usually truncation artifacts (mid-sentence crawler cuts, stripped
    boilerplate tails), and their rate per source is the release-gate
    row. ``right(rtrim(text), 1)`` is engine-identical; one
    source-sized aggregate, zero shuffle of text.

    Returns (source, n_docs, n_clean, clean_ppm).
    """
    last = F.expr(f"right(rtrim({text_col}), 1)")
    # Explicit otherwise(0): isin().cast() leaves NULL for NULL text,
    # and a SUM over an all-NULL group returns NULL where the oracle's
    # CASE ... ELSE 0 returns 0.
    clean = F.when(last.isin(*TERMINAL_PUNCT), F.lit(1)).otherwise(
        F.lit(0)
    ).cast("long")
    return (
        df.select(F.col(source_col).alias("source"), clean.alias("__c"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__c").cast("long").alias("n_clean"),
        )
        .withColumn(
            "clean_ppm", F.expr("n_clean * 1000000 div n_docs")
        )
    )


def watermark_detect(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "wm1",
    green_ppm_threshold: int = 560_000,
) -> DataFrame:
    """Green-list watermark detector (Kirchenbauer et al. 2023, "A
    Watermark for Large Language Models", γ = 1/2 simplified): token i
    is GREEN iff the portable 32-bit hash of ``salt:prev:token`` is
    even — the bigram-seeded vocabulary split a soft watermark biases
    generation toward. A document whose green fraction sits far above
    the natural ~1/2 is flagged as likely machine-generated with this
    key; the provenance screen a training-corpus intake runs to keep
    model output from feeding back into pretraining data.

    All-integer: green_ppm = n_green·10⁶ div n_scored (n_scored =
    T−1 bigram positions); the md5-parity green rule is identical in
    any engine with md5 (functions/hashes.md5_u32). One narrow
    explode + one groupBy on the id — shuffle carries (id, two longs).
    Short docs are noisy by nature (the pytest plants a long forced-
    green sequence to pin detection); thresholding is the caller's
    policy knob. Returns (id_col, n_scored, n_green, green_ppm,
    flagged 0/1); docs with < 2 tokens are dropped (nothing to score).
    """
    from drune_spark.functions.hashes import md5_u32
    from drune_spark.functions.partitioning import fan_out

    base = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens(F.col(text_col)).alias("w")
    )
    n = F.size("w") - 1
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.expr("cast(array() as array<int>)")
    )
    pos = base.select(F.col(id_col), "w", F.explode(idx).alias("i"))
    green = (
        md5_u32(
            F.concat_ws(
                ":",
                F.lit(salt),
                F.element_at(F.col("w"), F.col("i")),
                F.element_at(F.col("w"), F.col("i") + 1),
            )
        )
        % 2
        == 0
    )
    agg = pos.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum(green.cast("long")).cast("long").alias("n_green"),
    )
    return agg.select(
        id_col,
        "n_scored",
        "n_green",
        F.expr("n_green * 1000000 div n_scored").alias("green_ppm"),
        (
            F.expr("n_green * 1000000 div n_scored")
            >= F.lit(int(green_ppm_threshold))
        ).cast("int").alias("flagged"),
    )


def heaps_law(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoints: int = 8,
) -> DataFrame:
    """Heaps-law vocabulary growth curve (Heaps 1978): V(n) = distinct
    word types among the first n corpus tokens, sampled at
    ``checkpoints`` evenly spaced prefix sizes n_k = ⌈total·k/cp⌉ —
    the dedup-value forecast every tokenizer/vocab decision reads
    (V(n) ~ K·n^β; a flattening curve means new data stops buying new
    vocabulary). Complements the zipf_fit gate: rank-frequency is the
    static law, this is its growth form.

    Distributed shape: per-doc token arrays → per-doc length prefix
    sums (ONE window over doc-count rows — doc-grain metadata, never
    token-grain) → each token's global index = cum_before + pos → per
    TYPE the minimum global index (one groupBy on the word — the only
    token-volume shuffle, carrying (word, long)) → V(n_k) = count of
    types with first index < n_k via one broadcast checkpoint join.
    All-integer; the curve is exact, not sampled.

    Returns (checkpoint, prefix_tokens, vocab_size, type_token_ppm).
    """
    from pyspark.sql import Window

    from drune_spark.functions.partitioning import fan_out

    if checkpoints < 1:
        raise ValueError("heaps_law needs checkpoints >= 1")
    base = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("doc"),
        tokens(F.lower(F.col(text_col))).alias("w"),
    )
    # lens is read by the cum window AND the totals aggregate — the
    # lazy persist dedupes the branches so documents is not re-scanned
    # and re-tokenized per consumer (r3 self-referencing-DAG rule)
    lens = base.select("doc", F.size("w").alias("len")).persist()
    wd = Window.orderBy("doc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # rename the join key: cum derives from base, and a same-name
    # equi-join on a self-derived frame trips the ambiguous-self-join
    # analyzer check
    cum = lens.select(
        F.col("doc").alias("__cdoc"),
        (F.sum("len").over(wd) - F.col("len")).alias("cum_before"),
    )
    toks = (
        base.join(cum, F.col("doc") == F.col("__cdoc"))
        .select(
            "cum_before",
            F.posexplode("w").alias("pos", "word"),
        )
        .select(
            "word",
            (F.col("cum_before") + F.col("pos")).alias("gidx"),
        )
    )
    first = toks.groupBy("word").agg(F.min("gidx").alias("first_idx"))
    total = lens.agg(F.sum("len").cast("long").alias("total"))
    cps = total.select(
        F.explode(
            F.sequence(F.lit(1), F.lit(int(checkpoints)))
        ).alias("checkpoint"),
        "total",
    ).select(
        "checkpoint",
        F.expr(
            f"cast((total * checkpoint + {int(checkpoints)} - 1)"
            f" div {int(checkpoints)} as long)"
        ).alias("prefix_tokens"),
    )
    joined = first.crossJoin(F.broadcast(cps))
    return (
        joined.groupBy("checkpoint", "prefix_tokens")
        .agg(
            F.sum(
                (F.col("first_idx") < F.col("prefix_tokens")).cast("long")
            ).cast("long").alias("vocab_size")
        )
        .select(
            F.col("checkpoint").cast("int").alias("checkpoint"),
            "prefix_tokens",
            "vocab_size",
            F.expr(
                "vocab_size * 1000000 div greatest(prefix_tokens, 1)"
            ).alias("type_token_ppm"),
        )
    )
