"""Distributed BPE tokenizer induction (driver extension).

The LLM-data mandate's "token counting (whitespace + a BPE-ish regex)"
counts tokens with a *given* vocabulary (functions/text.py); this module
does the other half — *learning* merges from the corpus, the way a
Sennrich et al. 2016 (arXiv:1508.07909) BPE trainer does, re-expressed
as Spark aggregations:

1. Collapse the corpus to its word-frequency table (the classic BPE
   trick: all pair statistics are reachable from (distinct word, count),
   so the corpus is scanned exactly once no matter how many merge
   rounds run).
2. Represent each word as space-joined symbols (``'key'`` → ``'k e y'``,
   padded with one boundary space each side).
3. Per round: explode adjacent symbol pairs weighted by word frequency,
   pick the global argmax pair (count desc, pair asc tie-break), apply
   the merge with one non-overlapping left-to-right ``replace`` pass,
   repeat on the rewritten table.

Determinism: pair counts are integer; the argmax tie-break is total; and
``replace`` is the same non-overlapping left-scan algorithm in Spark and
DuckDB, so the oracle's unrolled-CTE mirror is bit-exact. (A single
replace pass can under-merge self-overlapping runs like ``a a a a`` —
both engines under-merge identically; canonical BPE re-scans, which only
changes *later* rounds' inputs, not determinism.)

Scale notes:
- The per-round shuffle carries (pair, count) cells — vocabulary-sized,
  never corpus-sized. The word-frequency base table is persisted; each
  round adds one narrow ``replace`` projection + one partial-aggregated
  pair count + a TakeOrdered(1) argmax.
- The only driver round-trips are the 1-row argmax per round (the same
  control-loop shape as operators/kmeans.py's centroid fetch — k tiny
  rows, never data rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drune_spark.operators import replay


def word_freq_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace tokens — the BPE trainer's input.

    Deliberately NOT fanned out (r10 interleaved A/B: narrow 0.42-0.58
    s/pass vs fanned 0.93-1.50 at sf0.1) — the plain tokenize +
    partial aggregation is cheaper than the added exchange + 32-task
    stages; the merge-chain fronts (``_word_reprs``) are the ones that
    pay per-word work worth spreading."""
    return (
        df.select(
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _spaced(col):
    """'key' -> ' k e y ' (boundary-padded space-joined symbols)."""
    return F.concat(
        F.lit(" "), F.trim(F.regexp_replace(col, "(.)", "$1 ")), F.lit(" ")
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the merge
    table (step, pair, merged, pair_count) — ``pair`` is the space-
    separated symbol pair, ``merged`` its concatenation, ``pair_count``
    the frequency-weighted corpus count that made it the argmax.

    Size-adaptive driver fast path (r10, the connected_components /
    k_truss pattern): the merge loop runs over the VOCABULARY-sized
    (repr, freq) table — below its ``replay.CUTOFFS`` entry (200k rows
    ≈ a few MB, the broadcast-build memory class) one bounded collect
    replaces the
    n_merges × (explode + aggregate + TakeOrdered + replace) job
    chain. Every value replays EXACTLY: ``str.strip(' ').split(' ')``
    == split(trim(repr), " "), python ``str.replace`` == Spark
    ``replace`` (leftmost non-overlapping, verified incl. the
    self-overlapping " a a a a " case), integer sums are exact, and
    the (count desc, pair asc) tie-break is the same order (python
    code-point string order == Spark UTF8 binary order). Above the
    cutoff the distributed loop runs unchanged. Both paths stop early,
    with the merges learned so far, once no word has a pair left.
    """
    spark = df.sparkSession
    words = word_freq_table(df, text_col).select(
        _spaced(F.col("word")).alias("repr"), "freq"
    )
    words = words.persist()

    def replayed(g):
        reprs, freqs = list(g.cols["repr"]), g.cols["freq"].tolist()
        merges = []
        for step in range(1, n_merges + 1):
            counts: dict = {}
            for rp, fq in zip(reprs, freqs):
                syms = rp.strip(" ").split(" ")
                for i in range(len(syms) - 1):
                    p = syms[i] + " " + syms[i + 1]
                    counts[p] = counts.get(p, 0) + fq
            if not counts:
                break
            best_count = max(counts.values())
            best_pair = min(
                p for p, c in counts.items() if c == best_count
            )
            merged = best_pair.replace(" ", "")
            merges.append((step, best_pair, merged, best_count))
            pat, rep = f" {best_pair} ", f" {merged} "
            reprs = [rp.replace(pat, rep) for rp in reprs]
        return merges

    hit = replay.gate(
        "bpe_train", [words], (),
        "step int, pair string, merged string, pair_count bigint", replayed,
    )
    if hit is not None:
        words.unpersist()
        return hit
    merges = []
    for step in range(1, n_merges + 1):
        syms = F.split(F.trim(F.col("repr")), " ")
        # guard: single-symbol words must yield NO pairs — an unguarded
        # sequence(1, 0) counts DOWN (the word_shingles trap) and
        # element_at(_, 0) is an error under ANSI.
        n = F.size(syms) - 1
        idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.expr("cast(array() as array<int>)")
        )
        pairs = words.select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.concat(
                        F.element_at(syms, i),
                        F.lit(" "),
                        F.element_at(syms, i + 1),
                    ),
                )
            ).alias("pair"),
            "freq",
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
            .limit(1)
            .collect()  # 1-row control fetch (kmeans.py shape)
        )
        if not top:
            break
        best = top[0]
        merged = best["pair"].replace(" ", "")
        merges.append((step, best["pair"], merged, best["pair_count"]))
        # Column-form replace (not a formatted SQL literal): corpus
        # tokens may contain escape-significant characters (backslash,
        # quote) that would corrupt an F.expr text and diverge from the
        # oracle, which derives the pair from a subquery — same
        # injection-safe shape bpe_apply already uses.
        words = words.withColumn(
            "repr",
            F.replace(
                F.col("repr"),
                F.lit(f" {best['pair']} "),
                F.lit(f" {merged} "),
            ),
        )
    from drune_spark.functions.partitioning import local_frame
    return local_frame(
        spark, merges,
        "step int, pair string, merged string, pair_count bigint",
    )


def _word_reprs(df: DataFrame, text_col: str, key_col: str) -> DataFrame:
    """(key_col, repr) — one row per whitespace word, boundary-padded
    space-joined symbols. The shared tokenize front of every
    merge-application path. Fanned out below the explode so the
    downstream per-word merge replace chain (the expensive per-row
    work) runs on every core instead of the single sf-scale parquet
    split (r10; placement-independent, no-op at production widths)."""
    from drune_spark.functions.partitioning import fan_out

    return fan_out(df.select(F.col(key_col), F.col(text_col))).select(
        F.col(key_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"),
    ).select(F.col(key_col), _spaced(F.col("word")).alias("repr"))


def _merged_repr(merges: list[tuple[str, str]]):
    """The non-overlapping left-scan merge-replace chain over a
    boundary-padded ``repr`` column — the ONE definition of how a
    learned merge list is applied (bpe_apply / bpe_token_counts /
    tokenizer_fertility all consume it; _bpe_oracle_ctes mirrors it)."""
    col = F.col("repr")
    for pair, merged in merges:
        col = F.replace(col, F.lit(f" {pair} "), F.lit(f" {merged} "))
    return col


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a learned merge list: per doc, the token
    multiset after applying each merge in order (one narrow ``replace``
    chain — whole-stage-codegen'd, zero shuffles until the final
    histogram aggregation). Returns (token, n_occurrences, n_docs)."""
    toks = _word_reprs(df, text_col, id_col)
    col = _merged_repr(merges)
    exploded = toks.select(
        id_col, F.explode(F.split(F.trim(col), " ")).alias("token")
    )
    return exploded.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct(id_col).alias("n_docs"),
    )


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE token counts with a learned merge list — the
    tokenizer-true budget the packing path needs (pack_sequences on a
    whitespace proxy under-counts subword splits and over-counts merged
    units). Same narrow replace chain as ``bpe_apply``; per word the
    subword count is ``size(split(...))``, summed per doc in ONE
    groupBy on the id (the only shuffle; carries (id, int) pairs,
    never text). Returns (id_col, n_bpe_tokens)."""
    toks = _word_reprs(df, text_col, id_col)
    per_word = toks.select(
        id_col,
        F.size(F.split(F.trim(_merged_repr(merges)), " ")).alias("n_toks"),
    )
    return per_word.groupBy(id_col).agg(
        F.sum("n_toks").cast("long").alias("n_bpe_tokens")
    )


def tokenizer_fertility(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Tokenizer fertility report per group (the multilingual-tokenizer
    audit: how many subword tokens a word costs, and how many chars a
    token carries, per language/source). High fertility on a language
    means the vocabulary underserves it — the standard argument for
    UniMax-style vocab rebalancing. Uses the same learned-merge replace
    chain as ``bpe_apply`` (narrow, codegen'd, zero shuffles before the
    group-cell aggregate).

    All-integer: n_words, n_chars (pre-tokenization word chars),
    n_tokens (post-merge subwords), fertility_ppm = tokens·10⁶ div
    words, chars_per_token_ppm = chars·10⁶ div tokens.
    """
    from drune_spark.functions.partitioning import fan_out

    # Same single-split fix as _word_reprs: the merge chain below runs
    # per word and must not fuse onto one parquet split.
    toks = fan_out(df.select(F.col(group_col), F.col(text_col))).select(
        F.col(group_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"),
    ).select(group_col, "word", _spaced(F.col("word")).alias("repr"))
    col = _merged_repr(merges)
    per_word = toks.select(
        group_col,
        F.length("word").alias("n_chars"),
        F.size(F.split(F.trim(col), " ")).alias("n_toks"),
    )
    return per_word.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.expr(
            "cast(sum(n_toks) as bigint) * 1000000 div count(1)"
        ).alias("fertility_ppm"),
        F.expr(
            "cast(sum(n_chars) as bigint) * 1000000 "
            "div greatest(cast(sum(n_toks) as bigint), 1)"
        ).alias("chars_per_token_ppm"),
    )


def wordpiece_train(
    df: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Learn ``n_merges`` WordPiece merges (Schuster & Nakajima 2012;
    the BERT tokenizer's trainer): where BPE merges the most FREQUENT
    adjacent pair, WordPiece merges the pair maximizing the
    likelihood-ratio score freq(ab) / (freq(a)·freq(b)) — rare symbols
    that always co-occur merge first. Score is computed in exact
    integer math as ``pair_count · 2^40 div (cnt_a · cnt_b)``
    (pair_count < 2^19 at any tested SF keeps the product < 2^59;
    symbol-count products stay < 2^38), ties break (score desc, pair
    asc), so the trainer is engine-exact and the oracle replays every
    round in unrolled materialized CTEs.

    Same control-loop shape as bpe_train (one (word, freq) collapse,
    per-round vocab-sized aggregates, a 1-row argmax crossing to the
    driver, injection-safe column-form rewrite) plus one extra
    symbol-count aggregate per round. The pair build is the de-HOF'd
    position-explode (posexplode over a sequence + element_at
    projections — the round-5 rule), not a transform lambda.

    Returns (step, pair, merged, pair_count, score); like bpe_train it
    stops early once no pair is left.
    """
    spark = df.sparkSession
    words = word_freq_table(df, text_col).select(
        _spaced(F.col("word")).alias("repr"), "freq"
    )
    words = words.persist()
    merges = []
    scale = 1 << 40
    # Size-adaptive driver fast path (the bpe_train pattern; same
    # primitive-parity guarantees). The likelihood-ratio score adds
    # int64 products, so each round guards max(pair_count)·2^40 and
    # max(sym_count)² — where a product could leave int64 (the
    # distributed ANSI path would raise) the loop falls through to the
    # distributed rounds on the still-persisted words table.
    def replayed(g):
        reprs, freqs = list(g.cols["repr"]), g.cols["freq"].tolist()
        py_merges: list = []
        for step in range(1, n_merges + 1):
            sym_counts: dict = {}
            pair_counts: dict = {}
            for rp, fq in zip(reprs, freqs):
                syms = rp.strip(" ").split(" ")
                for s in syms:
                    sym_counts[s] = sym_counts.get(s, 0) + fq
                for i in range(len(syms) - 1):
                    key = (syms[i], syms[i + 1])
                    pair_counts[key] = pair_counts.get(key, 0) + fq
            if not pair_counts:
                break
            max_cnt = max(sym_counts.values())
            max_pc = max(pair_counts.values())
            if max_pc * scale >= (1 << 63) or max_cnt * max_cnt >= (
                1 << 63
            ):
                return replay.decline("wordpiece_train", "overflow",
                                      len(reprs))
            pair = None
            score = pc = -1
            for (sa, sb), c in pair_counts.items():
                sc = c * scale // (sym_counts[sa] * sym_counts[sb])
                p = sa + " " + sb
                if sc > score or (sc == score and p < pair):
                    score, pair, pc = sc, p, c
            merged = pair.replace(" ", "")
            py_merges.append((step, pair, merged, pc, score))
            pat, rep = f" {pair} ", f" {merged} "
            reprs = [rp.replace(pat, rep) for rp in reprs]
        return py_merges

    hit = replay.gate(
        "wordpiece_train", [words], (),
        "step int, pair string, merged string, pair_count bigint,"
        " score bigint", replayed,
    )
    if hit is not None:
        words.unpersist()
        return hit
    for step in range(1, n_merges + 1):
        base = words.select(
            F.split(F.trim(F.col("repr")), " ").alias("sym"), "freq"
        )
        sym_counts = (
            base.select(F.explode(F.col("sym")).alias("s"), "freq")
            .groupBy("s")
            .agg(F.sum("freq").alias("cnt"))
        )
        with_pos = base.filter(F.size("sym") >= 2).select(
            "sym",
            "freq",
            F.explode(
                F.sequence(F.lit(1), F.size("sym") - 1)
            ).alias("i"),
        )
        pairs = with_pos.select(
            F.element_at(F.col("sym"), F.col("i")).alias("sa"),
            F.element_at(F.col("sym"), F.col("i") + 1).alias("sb"),
            "freq",
        )
        pc = pairs.groupBy("sa", "sb").agg(
            F.sum("freq").alias("pair_count")
        )
        scored = (
            pc.join(
                sym_counts.withColumnRenamed("s", "sa").withColumnRenamed(
                    "cnt", "cnt_a"
                ),
                "sa",
            )
            .join(
                sym_counts.withColumnRenamed("s", "sb").withColumnRenamed(
                    "cnt", "cnt_b"
                ),
                "sb",
            )
            .select(
                F.concat_ws(" ", "sa", "sb").alias("pair"),
                "pair_count",
                F.expr(
                    f"pair_count * CAST({scale} AS BIGINT)"
                    " div (cnt_a * cnt_b)"
                ).alias("score"),
            )
        )
        top = (
            scored.orderBy(F.col("score").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        best = top[0]
        merged = best["pair"].replace(" ", "")
        merges.append(
            (step, best["pair"], merged, best["pair_count"], best["score"])
        )
        words = words.withColumn(
            "repr",
            F.replace(
                F.col("repr"),
                F.lit(f" {best['pair']} "),
                F.lit(f" {merged} "),
            ),
        )
    from drune_spark.functions.partitioning import local_frame
    return local_frame(
        spark, merges,
        "step int, pair string, merged string, pair_count bigint,"
        " score bigint",
    )


# Minimum-token Viterbi segmentation (the SentencePiece/unigram-LM
# decoding shape with uniform token cost — completes the tokenizer
# family next to bpe_train/bpe_apply and wordpiece_train): per distinct
# word, the FEWEST vocab tokens that exactly cover it, where the vocab
# is the word's own characters (guaranteed cover) plus the top-4 corpus
# character bigrams (count DESC, gram ASC tie-break). ONE shared ANSI
# text runs verbatim on Spark 4.1 and DuckDB (WITH RECURSIVE): the
# char-position domain is a shared VALUES table (both engines lack a
# shared explode idiom; a recursive p() worked too but each Spark
# recursion step is a whole job — VALUES halves the gate), and the DP is the recursive state
# expansion (word, pos, cost) -> (pos + len(tok), cost + 1) — UNION ALL
# with a strictly-increasing pos, so it terminates without UNION
# distinct (which Spark's recursion does not support). Path count is
# bounded by the segmentation count (Fibonacci-ish in word length;
# corpus words are <= 8 chars). All-integer output; the final ppm is
# floor over exact small integers.
#
# Scale: the DP runs over DISTINCT WORDS (vocabulary-sized, the
# bpe_train collapse), never the corpus; at 100 TB the corpus touch is
# the one word-extraction scan that feeds the vwords view.
VITERBI_SEGMENT_BODY = """
    WITH RECURSIVE p AS (
        SELECT * FROM (VALUES (1), (2), (3), (4), (5), (6), (7), (8)) AS t(i)
    ),
    chars AS (
        SELECT DISTINCT substr(word, i, 1) AS g
        FROM vwords, p WHERE i <= length(word)
    ),
    bigrams AS (
        SELECT g FROM (
            SELECT substr(word, i, 2) AS g, CAST(count(*) AS BIGINT) AS n
            FROM vwords, p WHERE i + 1 <= length(word)
            GROUP BY substr(word, i, 2)
        ) b
        ORDER BY n DESC, g ASC LIMIT 4
    ),
    vocab AS (SELECT g FROM chars UNION SELECT g FROM bigrams),
    dp(word, pos, cost) AS (
        SELECT word, 0, 0 FROM vwords
        UNION ALL
        SELECT d.word, d.pos + length(v.g), d.cost + 1
        FROM dp d JOIN vocab v
          ON substr(d.word, d.pos + 1, length(v.g)) = v.g
        WHERE d.pos < length(d.word)
    )
    SELECT word, CAST(length(word) AS INT) AS n_chars,
           CAST(MIN(cost) AS INT) AS min_tokens,
           CAST(floor((length(word) - MIN(cost)) * 1000000.0
                      / length(word)) AS BIGINT) AS saved_ppm
    FROM dp WHERE pos = length(word) GROUP BY word
"""


def bpe_token_stream(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Ordered per-document BPE token array — the token-id stream view
    the decontamination / packing paths need (``bpe_apply`` gives the
    corpus histogram; this keeps sequence order).

    One narrow expression chain per document, no per-word explode: the
    WHOLE document is boundary-padded at once (every char space-joined,
    so the original space characters become standalone boundary
    symbols flanked by runs of >= 3 spaces), the learned merge chain is
    applied with the same non-overlapping left-scan ``replace`` as
    ``_merged_repr``, and the result is split on space RUNS — which
    both drops the boundary symbols and yields exactly the
    concatenation of the per-word token sequences in document order.
    Cross-word merges are impossible by construction: merge pairs are
    single-spaced (``" p q "``) and word boundaries are never
    single-spaced, so the replace can't bridge them (pytest pins
    multiset equality with ``bpe_apply``).

    Returns ``(id_col, toks array<string>)``. Whole-stage codegen end
    to end; zero shuffles.
    """
    norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    col = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(norm, "(.)", "$1 ")),
        F.lit(" "),
    )
    for pair, merged in merges:
        col = F.replace(col, F.lit(f" {pair} "), F.lit(f" {merged} "))
    return df.select(
        F.col(id_col), F.split(F.trim(col), " +").alias("toks")
    )
