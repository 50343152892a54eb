"""Scaling-curve evidence for the heaviest operators (VERDICT r3 #6).

PERF.md argues the dedup/ANN/join paths scale ≲linearly; this measures
it. Builds a 3× dataset from sf0.1 (two deterministically TRANSFORMED
extra copies — letter-rotated text so copies are not near-duplicates of
each other, rotated embeddings, key-offset lineitem/orders so per-key
multiplicities are preserved) and times the five heaviest registry
queries at 1× and 3×, min-of-2 each, noop sink.

Run EXCLUSIVELY (same rule as bench.py — no concurrent Spark):

    python3 tools/scale_curve.py            # writes scale data to /tmp

A healthy result is ratio ≲ 3.3 for 3× data. Superlinear ratios mean a
candidate-generation or shuffle stage grows with corpus size rather
than ingest size — fix the operator, don't bury the number.
"""

from __future__ import annotations

import json
import logging
import os
import string
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/drune_scale_sf03")
ID_STRIDE = 10_000_000
QUERIES = [
    "dedup_minhash_lsh",
    "dedup_recent",
    "salted_join_agg",
    "decontaminate",
    "ann_ivf_topk",
    # round-4 second wave: cluster-blocked semantic dedup (pair count is
    # the scaling risk), segment dedup (explode + fp shuffle), BPE
    # (iterative pair counting)
    "semdedup",
    "segment_dedup",
    "bpe_train",
    # round-4 third wave: the two-pipeline eval join, the asymmetric
    # index probe (cost should track the BATCH side), and the broadcast
    # multi-vector scorer
    "lsh_eval",
    "incremental_dedup",
    "maxsim_retrieval",
    # round-5: the second sampled census eval (BNL ground truth now on
    # a 40% hash sample — the curve proves the sample bounds it)
    "semdedup_eval",
    # round-5 third session: the segment-DF filter (fp-cell shuffles),
    # synchronous LPA over the co-purchase graph (edge count is the
    # scaling risk), and the two-corpus-scan surprisal bucketing
    "boilerplate_df",
    "label_propagation",
    "unigram_surprisal",
    # round-5 wave C: the corpus-sized rolling-min window op
    "winnowing",
    # round-5 final wave: the three audit-tier iteratives — wedge
    # fan-out (k_truss), blocked density + CC (dbscan), greedy rounds
    # (kcenter) — the ops whose scaling is least obvious on paper
    "k_truss",
    "dbscan",
    "kcenter_coreset",
    # round-6 (VERDICT r5 #6): the new top-of-bench entrants — gear-ish
    # content-defined chunking (position explode), Spark recursion
    # fixed overhead, the two-source fingerprint join, and the
    # pre-partitioned co-located join
    "cdc_chunks",
    "recursive_reachability",
    "cross_source_dups",
    "bucketed_join",
    # round-6 second wave: bit-OR neighborhood sketch rounds
    # (edge-count scaling), the one-pass tagged-edge community audit,
    # and the decode+hash multimodal stage (row-count scaling)
    "anf_reach",
    "modularity",
    "image_neardup",
    # round-6 third wave: ivf-blocked kNN votes (pair-count scaling is
    # the risk), the one-Gram-build iteration, and the per-batch
    # sketch merge (state must stay grid-sized)
    "label_noise",
    "embedding_pca",
    "stream_cms_merge",
    # round-7: the single-pass step chain (screen cost × stages was the
    # r7 fix), join IVM (delta terms must track Δ, not view size), the
    # global-sort zone-map simulation (expected ~n log n — documented),
    # and the re-shaped llm_pipeline
    "ann_pipeline",
    "screen_pipeline",
    "join_refresh",
    "zonemap_audit",
    "llm_pipeline",
    # round-8: the reshaped blocked DBSCAN rides the existing "dbscan"
    # entry and the observe-folded ANF rides "anf_reach"; new ops —
    # the composed IVF-PQ serving chain (train+probe+eval), cluster
    # labels + one window (soft dedup), candidate-bounded levenshtein
    # verify, iterative HITS over the purchase graph (edge-count
    # scaling), the all-dims single-scan truncation eval, and the
    # decode+frame VAD stage (row-count scaling)
    "ivfpq_serve",
    "soft_dedup",
    "edit_dedup",
    "hits_scores",
    "matryoshka_recall",
    "audio_vad",
    # round-8 second wave: the B+1-replicate explode aggregate
    # (row×B scaling), the two-corpus-pass RM1 expansion, and the
    # decode-with-fault-isolation stage (row-count scaling)
    "bootstrap_ci",
    "query_expansion",
    "media_quarantine",
    # round-8 third wave: the ×9 query-side probe fan-out (corpus side
    # must stay one row per (vector, band))
    "lsh_multiprobe",
    # round-8 fourth wave: the in-cell pair build behind the NSW graph
    # (pair count ∝ Σ cell² is the scaling risk; the walk itself is
    # query-sized), and the per-round sampled-loss aggregates of the
    # DoReMi loop (each round is one doc-frame scan)
    "nsw_search",
    "doremi_mix",
    # round-8 fifth wave: the 8-byte Hamming shortlist stage (signature
    # build is the corpus-sized job), and the screen → learn → resample
    # chain (per-round doc scans over the screened frame)
    "bq_rerank",
    "mix_pipeline",
]
TABLES = ["documents", "embeddings", "lineitem", "orders", "events"]
# dimension tables ride along UNSCALED (a 3x fact load keeps its dims;
# lineitem copies keep l_partkey, so the part dim stays valid)
DIM_TABLES = ["part", "customer"]


def _rot(s: str, c: int) -> str:
    return s[c:] + s[:c]


def build(spark) -> None:
    from pyspark.sql import functions as F

    os.makedirs(OUT, exist_ok=True)
    for name in DIM_TABLES:
        dst = os.path.join(OUT, f"{name}.parquet")
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            continue
        spark.read.parquet(
            os.path.join(SRC, f"{name}.parquet")
        ).write.mode("overwrite").parquet(dst)
        print(f"built {dst} (dim, 1x)", flush=True)
    for name in TABLES:
        dst = os.path.join(OUT, f"{name}.parquet")
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            continue
        base = spark.read.parquet(os.path.join(SRC, f"{name}.parquet"))
        copies = [base]
        for c in (1, 2):
            cp = base
            if name == "documents":
                # rotate letters: every shingle changes, so copies are
                # NOT near-duplicates of each other (a real 3x corpus
                # isn't three clones) while length/token distributions
                # are preserved exactly.
                lower, upper = string.ascii_lowercase, string.ascii_uppercase
                cp = cp.withColumn(
                    "text",
                    F.translate(
                        "text", lower + upper,
                        _rot(lower, c) + _rot(upper, c)),
                ).withColumn("doc_id", F.col("doc_id") + c * ID_STRIDE)
            elif name == "embeddings":
                dim = 64
                cp = cp.withColumn(
                    "embedding",
                    F.expr(
                        f"concat(slice(embedding, {c + 1}, {dim - c}), "
                        f"slice(embedding, 1, {c}))"
                    ),
                ).withColumn("vec_id", F.col("vec_id") + c * ID_STRIDE)
            elif name == "lineitem":
                cp = cp.withColumn(
                    "l_orderkey", F.col("l_orderkey") + c * ID_STRIDE
                )
            elif name == "orders":
                cp = cp.withColumn(
                    "o_orderkey", F.col("o_orderkey") + c * ID_STRIDE
                )
            elif name == "events":
                # offset ids AND users: per-user session structure (and
                # so the transition graph / funnel shapes) is preserved
                # while copies never merge into one user's stream.
                cp = cp.withColumn(
                    "event_id", F.col("event_id") + c * ID_STRIDE
                ).withColumn("user_id", F.col("user_id") + c * ID_STRIDE)
            copies.append(cp)
        unioned = copies[0]
        for cp in copies[1:]:
            unioned = unioned.unionByName(cp)
        unioned.write.mode("overwrite").parquet(dst)
        print(f"built {dst}", flush=True)


# Registry queries whose operators have a driver replay (VERDICT r10
# #5: the distributed branches must get systematic above-cutoff
# measurement each optimization round — the ONE time a curve ran above
# a cutoff it found a 49 s distributed defect, §22). `--distributed`
# runs each listed query at 1× and 3× inside replay.distributed(),
# min-of-2, and reports the Spark JOB COUNT per pass alongside wall
# time (the §2.6 sequencing-latency evidence). A probe fails when any
# replay record appears during it: the distributed path did not run.
DISTRIBUTED_PROBES = (
    "dedup_clusters", "k_truss", "anf_reach", "hits_scores", "pagerank",
    "ppr_seeded", "bpe_train", "wordpiece_train", "dedup_jaccard",
    "containment", "set_sim_join", "nsw_search", "ivf_train", "lsh_eval",
    "dedup_minhash_lsh", "incremental_dedup", "dedup_simhash", "kcore",
    "label_propagation", "bfs_khop", "modularity",
    # no replay: always distributed, probed with the other LSH modes
    "dedup_recent",
)


def main() -> None:
    import __spark_entry__ as entrymod
    from drune_spark.operators import replay
    from drune_spark.session import get_spark

    spark = get_spark("drune_scale_curve")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark)
    qs = entrymod.queries()

    def run(name: str, sf_dir: str) -> tuple[float, int]:
        sc = spark.sparkContext
        group = f"scale:{name}:{time.monotonic_ns()}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
        dt = time.time() - t0
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("", "")
        return dt, n_jobs

    distributed = "--distributed" in sys.argv
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    run("salted_join_agg", SRC)  # warmup
    report = {}
    if distributed:
        selected = args or list(DISTRIBUTED_PROBES)
        unknown = [n for n in selected if n not in DISTRIBUTED_PROBES]
        assert not unknown, f"not distributed probes: {unknown}"
        replay.log.setLevel(logging.DEBUG)
        for name in selected:
            seen: set[str] = set()

            def watch(record: logging.LogRecord) -> bool:
                if record.path == "replay":
                    seen.add(record.op)
                return False  # observed only, never emitted

            replay.log.addFilter(watch)
            try:
                with replay.distributed():
                    (a1, j1), (b1, _) = run(name, SRC), run(name, SRC)
                    (a3, j3), (b3, _) = run(name, OUT), run(name, OUT)
            finally:
                replay.log.removeFilter(watch)
            spark.catalog.clearCache()
            t1, t3 = min(a1, b1), min(a3, b3)
            report[name] = {
                "replayed": sorted(seen),
                "sf0.1_s": round(t1, 2),
                "sf0.3_s": round(t3, 2),
                "ratio": round(t3 / t1, 2),
                "jobs_1x": j1,
                "jobs_3x": j3,
            }
            print(json.dumps({name: report[name]}), flush=True)
        print(json.dumps({"distributed_curve": report}))
        failed = [n for n, r in report.items() if r["replayed"]]
        if failed:
            sys.exit(f"replay ran under replay.distributed(): {failed}")
        return
    selected = args or QUERIES
    unknown = [n for n in selected if n not in qs]
    assert not unknown, f"not registry queries: {unknown}"
    for name in selected:
        t1 = min(run(name, SRC)[0], run(name, SRC)[0])
        t3 = min(run(name, OUT)[0], run(name, OUT)[0])
        # Marathon-cache rule (bench.py precedent): operators leave
        # persist marks; 15+ queries × 2 scales of accumulated cached
        # frames OOM the single JVM (reproduced here at 3× LPA —
        # the same recacheByPlan/heap-OOM family as the driver's r4
        # bench crash). Clear AFTER both scales so min-of-2 reuse
        # within a query is untouched.
        spark.catalog.clearCache()
        report[name] = {
            "sf0.1_s": round(t1, 2),
            "sf0.3_s": round(t3, 2),
            "ratio": round(t3 / t1, 2),
        }
        print(json.dumps({name: report[name]}), flush=True)
    print(json.dumps({"scale_curve": report}))


if __name__ == "__main__":
    main()
