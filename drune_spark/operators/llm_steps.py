"""Declarative step wrappers for the LLM-data operators.

The reference's pipeline surface is YAML steps (SURVEY §2.2-2.4); these
registrations make the corpus-prep operators first-class there too, so a
declarative pipeline can express clean → dedup → decontaminate → mix →
chunk without leaving the config format:

    steps:
      - {name: clean,  type: quality_filter, params: {text_col: text, id_col: doc_id}}
      - {name: dedup,  type: dedup,          params: {text_col: text, id_col: doc_id}}
      - {name: decon,  type: decontaminate,  params: {benchmark: eval_docs, text_col: text, id_col: doc_id}}
      - {name: mix,    type: corpus_mix,     params: {source_col: source, key_col: doc_id, weights: {web: 0.5}}}
      - {name: chunk,  type: chunk,          params: {text_col: text, id_col: doc_id, chunk_size: 512}}

Each wrapper delegates to the tested operator (see operators/dedup.py,
text_analysis.py, sampling.py, packing.py, redaction.py) — plan shapes
and scale arguments are identical to the direct API.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drune_spark.operators.registry import Step, StepRegistry


@StepRegistry.register("dedup")
class DedupStep(Step):
    """Exact near-identical-row removal: keeps the min-id row per
    normalized-text fingerprint (full rows, all columns preserved)."""

    def execute(self, inputs, current, *, text_col: str, id_col: str,
                source: Optional[str] = None, **_: Any) -> DataFrame:
        from drune_spark.operators.dedup import exact_dedup_rows

        df = self.pick_input(inputs, current, source)
        return exact_dedup_rows(df, text_col, id_col)


@StepRegistry.register("quality_filter")
class QualityFilterStep(Step):
    """Gopher-style repetition/shape gate. ``keep_only`` (default true)
    returns the input rows that pass the gate, filtered in place: each
    row is judged on its own text, so of two rows sharing an id only
    the passing one survives, and rows with a NULL id are dropped.
    false returns the per-doc metric profile with the keep flag for
    auditing."""

    def execute(self, inputs, current, *, text_col: str, id_col: str,
                keep_only: bool = True, source: Optional[str] = None,
                **params: Any) -> DataFrame:
        from drune_spark.functions.partitioning import fan_out
        from drune_spark.functions.text import let, repetition_metrics
        from drune_spark.operators.text_analysis import (
            gopher_filter,
            gopher_keep,
        )

        df = self.pick_input(inputs, current, source)
        if not keep_only:
            return gopher_filter(df, text_col, id_col, **params)
        # One pass, no join: a semi-join against the kept ids evaluated
        # the text chain twice and, at scale, shuffled the corpus by id.
        keep = let(repetition_metrics(F.col(text_col)),
                   lambda m: gopher_keep(m, **params))
        return fan_out(df).filter(F.col(id_col).isNotNull() & keep)


@StepRegistry.register("redact")
class RedactStep(Step):
    """Regex PII scrubbing; replaces ``text_col`` with the redacted text
    and keeps the per-label audit counts."""

    def execute(self, inputs, current, *, text_col: str,
                patterns: Optional[dict[str, str]] = None,
                source: Optional[str] = None, **_: Any) -> DataFrame:
        from drune_spark.operators.redaction import redact

        df = self.pick_input(inputs, current, source)
        out = redact(df, text_col, patterns=patterns)
        return out.drop(text_col).withColumnRenamed("redacted", text_col)


@StepRegistry.register("decontaminate")
class DecontaminateStep(Step):
    """Drop corpus rows sharing >= ``min_shared`` shingles with the
    ``benchmark`` input (a named pipeline source)."""

    def execute(self, inputs, current, *, benchmark: str, text_col: str,
                id_col: str, k: int = 3, min_shared: int = 2,
                source: Optional[str] = None, **_: Any) -> DataFrame:
        from drune_spark.operators.dedup import decontaminate

        df = self.pick_input(inputs, current, source)
        if benchmark not in inputs:
            raise ValueError(f"unknown benchmark source '{benchmark}'")
        flags = decontaminate(df, inputs[benchmark], text_col, id_col,
                              k=k, min_shared=min_shared)
        clean = flags.filter(~F.col("contaminated")).select(id_col)
        return df.join(clean, id_col, "left_semi")


@StepRegistry.register("corpus_mix")
class CorpusMixStep(Step):
    """Per-source mixture resampling with repetition (adds copy_id)."""

    def execute(self, inputs, current, *, source_col: str, key_col: str,
                weights: dict[str, float], default_weight: float = 1.0,
                source: Optional[str] = None, **_: Any) -> DataFrame:
        from drune_spark.operators.sampling import corpus_mix

        df = self.pick_input(inputs, current, source)
        return corpus_mix(df, source_col, key_col, weights,
                          default_weight=default_weight)


@StepRegistry.register("chunk")
class ChunkStep(Step):
    """Model-window chunking into (id, chunk_id, n_chunk_tokens,
    chunk_text)."""

    def execute(self, inputs, current, *, text_col: str, id_col: str,
                chunk_size: int = 512, overlap: int = 32,
                source: Optional[str] = None, **_: Any) -> DataFrame:
        from drune_spark.operators.packing import chunk_documents

        df = self.pick_input(inputs, current, source)
        return chunk_documents(df, text_col, id_col,
                               chunk_size=chunk_size, overlap=overlap)


@StepRegistry.register("profile")
class ProfileStep(Step):
    """Per-column table profile (operators/profile.py). ``distinct``:
    'approx' (HLL, single-pass — the wide-table default) or 'exact'
    (two hash-agg passes: distinct-only Expand + keyless min/max)."""

    def execute(self, inputs, current, *, columns: Optional[list] = None,
                distinct: str = "approx", source: Optional[str] = None,
                **_: Any) -> DataFrame:
        from drune_spark.operators.profile import profile_table

        df = self.pick_input(inputs, current, source)
        return profile_table(df, columns=columns, distinct=distinct)


@StepRegistry.register("histogram")
class HistogramStep(Step):
    """Equal-width numeric histogram (bucket, n)."""

    def execute(self, inputs, current, *, column: str,
                n_buckets: int = 10, source: Optional[str] = None,
                **_: Any) -> DataFrame:
        from drune_spark.operators.profile import numeric_histogram

        df = self.pick_input(inputs, current, source)
        return numeric_histogram(df, column, n_buckets=n_buckets)


@StepRegistry.register("percentiles")
class PercentilesStep(Step):
    """Grouped percentiles; mode='approx' for the t-digest scale path."""

    def execute(self, inputs, current, *, column: str,
                group_by: list, percentiles: list,
                mode: str = "exact", source: Optional[str] = None,
                **_: Any) -> DataFrame:
        from drune_spark.operators.stats import grouped_percentiles

        df = self.pick_input(inputs, current, source)
        return grouped_percentiles(df, column, list(group_by),
                                   [float(p) for p in percentiles],
                                   mode=mode)


@StepRegistry.register("bm25")
class Bm25Step(Step):
    """BM25 retrieval: params.queries is [[query_id, [terms...]], ...]."""

    def execute(self, inputs, current, *, queries: list, k: int = 10,
                text_col: str = "text", id_col: str = "doc_id",
                source: Optional[str] = None, **_: Any) -> DataFrame:
        from drune_spark.operators.search import bm25_topk

        df = self.pick_input(inputs, current, source)
        qs = [(str(qid), list(terms)) for qid, terms in queries]
        return bm25_topk(df, qs, k=k, id_col=id_col, text_col=text_col)


@StepRegistry.register("zorder")
class ZorderStep(Step):
    """Append a Morton z-value column over ``columns`` (write it with a
    range-partitioned sink for the clustered layout)."""

    def execute(self, inputs, current, *, columns: list, bits: int = 16,
                out_col: str = "zval", source: Optional[str] = None,
                **_: Any) -> DataFrame:
        from drune_spark.operators.layout import zorder_column

        df = self.pick_input(inputs, current, source)
        return zorder_column(df, list(columns), bits=bits, out_col=out_col)


@StepRegistry.register("token_screen")
class TokenScreenStep(Step):
    """Integer token-statistics screen (round 6): minimum whitespace-
    token count plus a stopword-share band in milli — the cheap
    length/stopword complement to the gopher ``quality_filter``
    (repetition/shape) gate above. The predicate uses the non-HOF
    size−array_remove idiom, so the whole screen stays in whole-stage
    codegen.

    Plan shape (r10): the token split and stopword counts live in a
    PROJECT list (where whole-stage codegen applies subexpression
    elimination — split(trim(lower(text))) is evaluated ONCE per row),
    and the filter is pinned ABOVE that projection with an always-true
    nondeterministic conjunct. Without the pin, predicate pushdown
    inlines the aliases into a single Filter condition, where codegen
    does NOT eliminate common subexpressions — the screen then
    re-evaluates the whole tokenize once per stopword term per bound
    (measured ~35 split() evaluations per row at the gate)."""

    def execute(
        self,
        inputs,
        current,
        *,
        text_col: str = "text",
        min_tokens: int = 0,
        sw_lo_milli: int = 0,
        sw_hi_milli: int = 1000,
        source: Optional[str] = None,
        **_: Any,
    ) -> DataFrame:
        from drune_spark.functions.text import STOPWORDS

        df = self.pick_input(inputs, current, source)
        toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        n = F.size(toks)
        hits = None
        for w in STOPWORDS:
            term = n - F.size(F.array_remove(toks, w))
            hits = term if hits is None else hits + term
        # Value-preserving pushdown pin (r10): PushPredicateThroughNonJoin
        # substitutes the __hits/__n aliases back into the filter whenever
        # every projected field is deterministic — even for a
        # nondeterministic or CaseWhen-wrapped condition (both probed) —
        # and the inlined Filter re-evaluates split() ~35x per row
        # because FilterExec codegen has no subexpression elimination.
        # A nondeterministic PROJECTED field (__pin, referenced by the
        # filter so column pruning keeps it) blocks the push entirely:
        # the filter stays ABOVE the projection, references __hits/__n
        # as attributes, and ProjectExec codegen CSE evaluates the
        # tokenize ONCE per row. __pin >= 0 is always true
        # (monotonically_increasing_id is nonnegative by construction):
        # adds no rows, drops no rows, never reaches the output.
        df2 = (
            df.withColumn("__hits", hits)
            .withColumn("__n", n)
            .withColumn("__pin", F.monotonically_increasing_id())
        )
        sw = F.expr("(CAST(__hits AS BIGINT) * 1000) div __n")
        cond = (
            (F.col("__n") >= int(min_tokens))
            & (sw >= int(sw_lo_milli))
            & (sw <= int(sw_hi_milli))
            & (F.col("__pin") >= 0)
        )
        return df2.filter(cond).drop("__hits", "__n", "__pin")


@StepRegistry.register("fim")
class FimStep(Step):
    """Fill-in-middle transform as a pipeline stage: replaces
    ``text_col`` with the PSM-reordered text for the deterministic
    FIM half (packing.py fim_transform), passing other columns
    through."""

    def execute(
        self,
        inputs,
        current,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        salt: str = "fim",
        source: Optional[str] = None,
        **_: Any,
    ) -> DataFrame:
        from drune_spark.operators.packing import fim_exprs

        df = self.pick_input(inputs, current, source)
        # In-place column splice — the input is consumed ONCE. The old
        # drop + join-back-on-id shape re-evaluated the entire upstream
        # chain for the second join branch (self-referencing-DAG trap:
        # measured one extra full screen+dedup pass inside llm_pipeline).
        _applied, _lo, _hi, out_text = fim_exprs(text_col, id_col, salt)
        return df.withColumn(text_col, out_text)


@StepRegistry.register("span_corrupt")
class SpanCorruptStep(Step):
    """T5-style span corruption as a pipeline stage (round 8): replaces
    ``text_col`` with the sentinel-masked input and adds
    ``target_col`` with the sentinel-delimited span contents
    (packing.py span_corrupt_exprs) — the denoising twin of the FIM
    stage. In-place column splice: the input is consumed ONCE (the
    FimStep discipline; a join-back-on-id would re-evaluate the whole
    upstream chain per branch)."""

    def execute(
        self,
        inputs,
        current,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        target_col: str = "target_text",
        span_len: int = 3,
        salt: str = "span1",
        source: Optional[str] = None,
        **_: Any,
    ) -> DataFrame:
        from drune_spark.operators.packing import span_corrupt_exprs

        df = self.pick_input(inputs, current, source)
        applied, _s0, _s1, input_text, target_text = span_corrupt_exprs(
            text_col, id_col, span_len, salt
        )
        return df.withColumn(
            target_col, F.when(applied == 1, target_text).otherwise("")
        ).withColumn(
            text_col,
            F.when(applied == 1, input_text).otherwise(F.col(text_col)),
        )


@StepRegistry.register("pack")
class PackStep(Step):
    """Sequence packing as a pipeline stage: whitespace token counts
    from ``text_col``, then pack_sequences' hash-group cumulative
    fill (budget, n_groups, salt pass through)."""

    def execute(
        self,
        inputs,
        current,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        budget: int = 512,
        n_groups: Optional[int] = None,
        salt: str = "",
        source: Optional[str] = None,
        **_: Any,
    ) -> DataFrame:
        from drune_spark.operators.packing import pack_sequences

        df = self.pick_input(inputs, current, source)
        sized = df.select(
            F.col(id_col),
            F.size(
                F.split(F.trim(F.col(text_col)), r"\s+")
            ).alias("__n_toks"),
        )
        return pack_sequences(
            sized, "__n_toks", id_col,
            budget=budget, n_groups=n_groups, salt=salt,
        )


@StepRegistry.register("similarity_search")
class SimilaritySearchStep(Step):
    """ANN top-k as a pipeline stage (round 7, VERDICT r6 #8): cosine
    nearest neighbors over an embedding column, YAML-declarable like
    dedup/fim/pack. Queries come from a named ``queries_source`` input
    or — the self-search shape — every ``query_mod``-th id of the
    (possibly screened) running frame, so the step composes after
    filters: neighbors are searched among SURVIVORS only.

    Consumption caveat (ADVICE r7): with ``query_mod`` the query side
    is a filter OVER the running frame, so ``current`` is consumed
    TWICE — corpus scan + broadcast query derivation. Harmless when
    the upstream is a pushdown filter (the ann_pipeline shape), but
    after an expensive chain (e.g. dedup) the chain re-runs once for
    the small query side; prefer ``queries_source`` or checkpoint the
    upstream step there.

    ``method='brute'`` is the exact baseline (corpus scanned once,
    queries broadcast, WindowGroupLimit partial top-k — the ann_topk
    plan); ``'ivf'`` probes nprobe coarse cells (the 100-TB path).
    Returns (query_id, neighbor_id, rank, cosine), cosine rounded to
    ``round_to`` decimals (None skips)."""

    def execute(
        self,
        inputs,
        current,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 5,
        query_mod: Optional[int] = None,
        queries_source: Optional[str] = None,
        method: str = "brute",
        n_centroids: int = 16,
        nprobe: int = 4,
        round_to: Optional[int] = 6,
        source: Optional[str] = None,
        **_: Any,
    ) -> DataFrame:
        from drune_spark.operators.similarity import (
            brute_force_topk,
            ivf_topk,
        )

        df = self.pick_input(inputs, current, source)
        if queries_source is not None:
            q = inputs[queries_source]
        elif query_mod:
            q = df.filter(
                F.pmod(F.col(id_col), F.lit(int(query_mod))) == 0
            )
        else:
            raise ValueError(
                "similarity_search needs 'query_mod' or 'queries_source'"
            )
        q = q.withColumnRenamed(id_col, "query_id")
        if method == "brute":
            out = brute_force_topk(
                df, q, k=k, id_col=id_col, vec_col=vec_col
            )
        elif method == "ivf":
            out = ivf_topk(
                df, q, k=k, n_centroids=n_centroids, nprobe=nprobe,
                id_col=id_col, vec_col=vec_col,
            )
        else:
            raise ValueError(f"unknown similarity_search method {method!r}")
        if round_to is not None:
            out = out.withColumn(
                "cosine", F.round("cosine", int(round_to))
            )
        return out


@StepRegistry.register("ivf_pq_serve")
class IvfPqServeStep(Step):
    """The composed IVF-PQ serving path as a pipeline stage (round 8,
    VERDICT r7 #5): Lloyd-trained coarse cells → PQ encoding →
    nprobe-probed ADC top-k → recall@k eval vs exact
    (embeddings.ivf_pq_serve), over the RUNNING frame — so the whole
    index trains on and serves screen survivors only, exactly like
    ann_pipeline's brute stage. Terminal-audit stage: output is
    (query_id, n_cand, n_hits), one row per derived query.

    Consumption note: like similarity_search with query_mod, queries
    are a pushdown filter over the corpus — the upstream chain is
    scanned by training, encoding, probing and the exact baseline;
    put a checkpoint step before this one after expensive chains."""

    def execute(
        self,
        inputs,
        current,
        *,
        k: int = 10,
        n_centroids: int = 8,
        n_iters: int = 2,
        nprobe: int = 3,
        dim: int = 64,
        n_subspaces: int = 4,
        codebook_size: int = 8,
        query_mod: int = 50,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        source: Optional[str] = None,
        **_: Any,
    ) -> DataFrame:
        from drune_spark.operators.embeddings import ivf_pq_serve

        return ivf_pq_serve(
            self.pick_input(inputs, current, source),
            k=k, n_centroids=n_centroids, n_iters=n_iters,
            nprobe=nprobe, dim=dim, n_subspaces=n_subspaces,
            codebook_size=codebook_size, query_mod=query_mod,
            id_col=id_col, vec_col=vec_col,
        )


@StepRegistry.register("label_noise")
class LabelNoiseStep(Step):
    """kNN label-noise screen as a pipeline stage (round 7): the
    confident-learning confusion grid (similarity.knn_label_noise —
    IVF-blocked neighbors, integer-encoded majority vote) over the
    running frame, so it composes after screens exactly like the
    profile/histogram audit steps: assignment, k derivation and votes
    all happen on SURVIVORS only. Terminal-audit stage: output is the
    (label, maj_label, n) grid, bounded at |labels|² rows."""

    def execute(
        self,
        inputs,
        current,
        *,
        k: int = 5,
        n_clusters: Optional[int] = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        label_col: str = "label",
        source: Optional[str] = None,
        **_: Any,
    ) -> DataFrame:
        from drune_spark.operators.similarity import knn_label_noise

        df = self.pick_input(inputs, current, source)
        return knn_label_noise(
            df, k=k, n_clusters=n_clusters, id_col=id_col,
            vec_col=vec_col, label_col=label_col,
        )


@StepRegistry.register("domain_mix")
class DomainMixStep(Step):
    """Learned-mixture resampling as a pipeline stage (round 8): run
    ``sampling.doremi_reweight`` on the running frame to LEARN
    per-source weights, then hash-resample the same frame at rates
    ∝ the final weights — "learn the mixture, then apply it" in one
    declarative step, composing after screens/dedup exactly like
    ``corpus_mix`` applies a HAND-CHOSEN mixture.

    Consumption note: the running frame is read by the DoReMi loss
    scan AND the final resample filter, so it is persisted here (the
    loop's control fetches are sequential driver jobs — the first
    materializes the cache, later consumers replay it; no branch
    race). The resample hash is salted independently of the per-round
    sampling hashes, so round-sampling decisions never leak into
    membership.
    """

    def execute(
        self,
        inputs,
        current,
        *,
        rounds: int = 3,
        eta_denom: int = 512,
        source_col: str = "source",
        id_col: str = "doc_id",
        text_col: str = "text",
        salt: str = "mix",
        rate_bits: int = 16,
        source: Optional[str] = None,
        **_: Any,
    ) -> DataFrame:
        from drune_spark.functions.hashes import md5_u32
        from drune_spark.operators.sampling import doremi_reweight

        if rounds < 1:
            # rounds=0 would yield an empty trajectory -> empty weight
            # map -> the whole corpus silently dropped. Fail loudly;
            # "apply a known mixture" is corpus_mix's job.
            raise ValueError("domain_mix needs rounds >= 1")
        df = self.pick_input(inputs, current, source).persist()
        traj = doremi_reweight(
            df, rounds=rounds, source_col=source_col, id_col=id_col,
            text_col=text_col, eta_denom=eta_denom, rate_bits=rate_bits,
        )
        final = {
            r["source"]: int(r["weight_ppm"])
            for r in traj.collect()  # |domains|·rounds literal rows
            if r["round"] == rounds
        }
        if not final:
            return df.filter(F.lit(False))
        max_w = max(final.values())
        rate_mod = 1 << rate_bits
        rate = F.coalesce(
            *(
                [
                    F.when(
                        F.col(source_col) == F.lit(s),
                        F.lit(int(w * rate_mod // max_w)),
                    )
                    for s, w in final.items()
                ]
                + [F.lit(0)]
            )
        )
        return df.filter(
            md5_u32(
                F.concat(
                    F.lit(f"{salt}:"), F.col(id_col).cast("string")
                )
            )
            % rate_mod
            < rate
        )
