#!/usr/bin/env python
"""Benchmark harness: times headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}, with contention evidence beside it (each query's CPU steal
share, a CPU probe and a control query at each end of the sweep).

Each query is forced end-to-end with a noop sink (full computation, no
driver collect). A warmup pass on sf0.001 triggers JVM/codegen warmup so
timings reflect steady-state execution.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "kmer_count",
    "prune_forks",
    "union_counts",
    "best_connection",
    "multi_join_agg",
    "events_window",
    "fork_argmax",
    "top_orders",
    "fasta_wrap",
    "reduction",
    "mercy",
    "contig_dedup",
    "junction_support",
    # the RDK contraction loop itself (W3/J1/I1/I2) and the composed
    # patch/stitch stages — the engine's core, timed end-to-end
    "assemble_paths",
    # round 7: the k>31 long-block assembly path first-class (k=41,
    # two blocks per id — counting through contraction on array<long>)
    "assemble_blocks",
    "patch_contigs",
    "stitch_bridges",
    # datapipe headliners (present when implemented; skipped otherwise)
    "exact_dedup",
    # production hash families (xxhash64 shingles / gaussian planes) — what
    # minhash_lsh_pairs/ann_topk/embedding_dedup ship by default. The
    # driver's correctness entries run the md5 families (bit-replayable by
    # the SQL oracles) and are deliberately NOT the headline: md5 costs 3
    # chained string ops + a digest per shingle/rehash vs one xxhash64
    # intrinsic, a family production never runs.
    "minhash_near_dup_xxh64",
    # round 10: the character-level dedup members' production shapes
    # (FastSS edit join at d=1; capped MOSS overlap — the md5 oracle
    # twins are staged for the round-11 window)
    "edit_join_d1",
    "winnow_overlap_xxh64",
    # round 11: character-level shared-span removal (the ExactSubstr
    # shape over winnow fingerprints; capped production family)
    "winnow_spans_xxh64",
    "text_stats",
    # ann_lsh_gauss, not embedding_topk: the brute-force cosine is the
    # O(n²) correctness baseline; the LSH-bucketed path is the scale
    # design. Likewise ngram_jaccard (exact inverted-index join,
    # hot-shingle quadratic) stays a correctness entry; MinHash is its
    # scale-path headline.
    "ann_lsh_gauss",
    # ann_ivf: excluded while its adaptive mode was n^1.5 (round 4);
    # after the round-5 GEMM rewrite (int64 matrix assignment against a
    # capped quantizer, blocked-GEMM verify) it measures 2.7 s vs LSH's
    # 5.5 s at sf1.0 at equal recall (PLANS.md), so both ANN scale paths
    # are timed now.
    "ann_ivf_adaptive",
    "contained_dedup",
    # X2 mapping stage: seed-join mapper + consensus end extension
    "read_mapping",
    "end_extend",
    # embedding near-dup dedup (LSH candidates + exact cosine verify —
    # the 100 TB path; the all-pairs GEMM baseline stays pytest-only)
    "embedding_dedup_gauss",
    # skew stress: 10% of docs replaced by exact clones of one template,
    # so one (band_idx, band_key) bucket holds the whole clone block —
    # the hot-bucket worst case for LSH banding. Survives because the
    # candidate exchange is id-only and AQE splits oversized partitions
    # (tests/test_skew.py proves the split mechanism fires).
    "skew_near_dup",
    # round-5 tail: duplicate clustering (pairs → connected components),
    # eval-set decontamination, and the repetition quality filters —
    # each on its production hash family
    "dup_clusters_xxh64",
    "decontaminate_xxh64",
    "repetition_stats",
    # hash-family-free round-5 operators: production IS the oracled path
    "events_asof",
    "events_range_join",
    "pack_sequences",
    "kmeans_assign",
    "bm25_rank",
    # KMV on the production hash family (the md5 twin stays oracle-only)
    "kmv_distinct_xxh64",
    # round-6 additions: substring-level dup spans (production xxhash64
    # family), PageRank (3 fixed iterations on the supplier-part graph),
    # vocab coverage, event transitions — production IS the oracled path
    # for the last three
    "dup_spans_xxh64",
    "graph_pagerank",
    "vocab_coverage",
    "event_transitions",
    # production shapes: xxh64 split family; triangles over the MinHash
    # (not exact-Jaccard) near-dup graph — the scale path's pair source
    "stratified_split_xxh64",
    "bigram_logprob",
    "triangle_count_xxh64",
    # hashed-linear classifier + HLL on the production family; PQ
    # encode/ADC-search (all-integer — production IS the oracled path)
    "classifier_score_xxh64",
    "hll_by_lang_xxh64",
    "pq_encode",
    "pq_topk",
    # round 7: greedy per-group token-budget selection, now histogram-
    # binned (no whole-group window) — timed on the production shape
    "token_budget_select",
    # round 8: DSIR importance resampling end-to-end (weights + Gumbel-
    # top-k) on the production xxhash64 family; SemDeDup at the oracle
    # shape (the md5/oracle twins stay correctness entries)
    "dsir_select_xxh64",
    "semantic_dedup",
    # round 10: the cell-bounded kNN edge list, the mergeable quantile
    # summary, and the IVF-PQ ADC index — production IS the oracled
    # path for all three (all-integer devices)
    "knn_graph",
    "token_quantiles_sketch",
    "ann_ivfpq",
    # round 12: the six newly registered pairs' production shapes —
    # xxhash64 families for the hash-parameterized ones (the md5 twins
    # stay oracle entries); fineweb_rules and semantic_decontam are
    # all-integer, production IS the oracled path — plus the staged
    # winnow fingerprint store probe
    "corpus_divergence_xxh64",
    "winnow_ref_removal_xxh64",
    "ccnet_buckets_xxh64",
    "fineweb_rules",
    "semantic_decontam",
    "winnow_store_probe_xxh64",
    "incremental_candidates_xxh64",
    # round 13 (late): blocklist-word filtering (all-integer literal-
    # array scan — production IS the oracled path), the global
    # training shuffle on its production hash family, and the
    # semantic incremental-store probe (all-integer device —
    # production IS the oracled path)
    "badwords",
    "corpus_shuffle_xxh64",
    "embedding_store_probe",
]


def _bench_only_queries():
    """Production-family variants of the three family-parameterized
    queries. Bench-only: the md5-family twins stay in
    ``__spark_entry__.queries()`` for the oracle gate; these time the
    default families production actually runs (VERDICT r3 item 4)."""

    def minhash_near_dup_xxh64(spark, sf_dir):
        from reflexiv_spark.datapipe.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_lsh_pairs(
            docs, w=8, num_hashes=32, bands=8, threshold=0.5
        )

    def ann_lsh_gauss(spark, sf_dir):
        from reflexiv_spark.datapipe.similarity import ann_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return ann_topk(emb, dim=64, k=3, n_planes=8, n_probes=2)

    def embedding_dedup_gauss(spark, sf_dir):
        from reflexiv_spark.datapipe.similarity import embedding_dedup

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return embedding_dedup(
            emb, threshold=0.3, exact=False, dim=64, n_planes=8, n_probes=2
        ).select("vec_id")

    def skew_near_dup(spark, sf_dir):
        from pyspark.sql import functions as F

        from reflexiv_spark.datapipe.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        tmpl = F.repeat(F.lit("the quick brown fox jumps over the lazy dog "), 8)
        skewed = docs.withColumn(
            "text",
            F.when(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0, tmpl).otherwise(
                F.col("text")
            ),
        )
        return minhash_lsh_pairs(
            skewed, w=8, num_hashes=64, bands=16, threshold=0.9
        )

    def ann_ivf_adaptive(spark, sf_dir):
        from reflexiv_spark.datapipe.similarity import ivf_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return ivf_topk(emb, dim=64, k=3, n_probes=2)

    def dup_clusters_xxh64(spark, sf_dir):
        from reflexiv_spark.datapipe.cluster import dup_clusters
        from reflexiv_spark.datapipe.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pairs = minhash_lsh_pairs(docs, w=8, num_hashes=32, bands=8, threshold=0.5)
        return dup_clusters(pairs)

    def decontaminate_xxh64(spark, sf_dir):
        from pyspark.sql import functions as F

        from reflexiv_spark.datapipe.decontam import decontaminate

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        ev = docs.where(F.col("doc_id") % 10 == 0)
        tr = docs.where(F.col("doc_id") % 10 != 0)
        return decontaminate(tr, ev, n=4)

    def kmv_distinct_xxh64(spark, sf_dir):
        from pyspark.sql import functions as F

        from reflexiv_spark.datapipe.sketch import kmv_distinct

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        toks = docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0)
            ).alias("tok")
        )
        return kmv_distinct(toks, "tok", k=256)

    def stratified_split_xxh64(spark, sf_dir):
        from reflexiv_spark.datapipe.sampling import stratified_split

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return stratified_split(docs, hash_family="xxhash64")

    def triangle_count_xxh64(spark, sf_dir):
        from reflexiv_spark.datapipe.dedup import minhash_lsh_pairs
        from reflexiv_spark.datapipe.graph import triangle_count

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pairs = minhash_lsh_pairs(
            docs, w=8, num_hashes=32, bands=8, threshold=0.5
        ).select("id1", "id2")
        return triangle_count(pairs, src="id1", dst="id2")

    def dup_spans_xxh64(spark, sf_dir):
        from reflexiv_spark.datapipe.dedup import duplicate_ngram_spans

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return duplicate_ngram_spans(docs, n=8, hash_family="xxhash64")

    def classifier_score_xxh64(spark, sf_dir):
        from reflexiv_spark.datapipe.text import classifier_score

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return classifier_score(docs, hash_family="xxhash64")

    def dsir_select_xxh64(spark, sf_dir):
        from pyspark.sql import functions as F

        from reflexiv_spark.datapipe.dsir import dsir_select

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        raw = docs.where(F.col("doc_id") % 10 != 0)
        target = docs.where(F.col("doc_id") % 10 == 0)
        return dsir_select(
            raw, target, k=50, dim=512, use_bigrams=True,
            hash_family="xxhash64",
        )

    def hll_by_lang_xxh64(spark, sf_dir):
        import __spark_entry__ as ent
        from reflexiv_spark.datapipe.sketch import hll_distinct_by

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        g3 = ent.lang_trigrams(docs)  # same tokenization as the oracled twin
        return hll_distinct_by(g3, "g3", "lang", p=8, hash_family="xxhash64")

    def winnow_overlap_xxh64(spark, sf_dir):
        from reflexiv_spark.datapipe.winnow import winnow_overlap

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        # max_df: the production shape — the synthetic corpus's ~20-word
        # vocabulary makes some 8-grams corpus-ubiquitous, and an
        # uncapped fp join is hot-shingle quadratic (ngram_jaccard's
        # failure shape). The oracle-gated md5 twin stays uncapped-exact
        # at sf0.01 where the corpus is small enough.
        return winnow_overlap(
            docs, k=8, window=4, min_shared=2, hash_family="xxhash64",
            max_df=50,
        )

    def edit_join_d1(spark, sf_dir):
        from reflexiv_spark.datapipe.editdist import edit_join

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return edit_join(docs, max_dist=1, key_len=16)

    def corpus_divergence_xxh64(spark, sf_dir):
        from pyspark.sql import functions as F

        from reflexiv_spark.datapipe.divergence import corpus_divergence

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return corpus_divergence(
            docs.where(F.col("doc_id") % 10 == 0),
            docs.where(F.col("doc_id") % 10 != 0),
            dim=512, hash_family="xxhash64",
        )

    def winnow_spans_xxh64(spark, sf_dir):
        from reflexiv_spark.datapipe.winnow import remove_shared_spans

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        # same max_df rationale as winnow_overlap_xxh64: ownership over
        # corpus-ubiquitous fps carries no span signal and the matched-
        # position fan-in is hot-fp-bounded only with the cap
        return remove_shared_spans(
            docs, k=8, window=4, hash_family="xxhash64", max_df=50
        )

    def incremental_candidates_xxh64(spark, sf_dir):
        from pyspark.sql import functions as F

        from reflexiv_spark.datapipe.incremental import (
            band_fingerprints,
            incremental_candidates,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        store = band_fingerprints(
            docs.where(F.col("doc_id") % 10 == 0), hash_family="xxhash64"
        )
        return incremental_candidates(
            docs.where(F.col("doc_id") % 10 != 0), store,
            hash_family="xxhash64",
        )

    def winnow_ref_removal_xxh64(spark, sf_dir):
        from pyspark.sql import functions as F

        from reflexiv_spark.datapipe.winnow import remove_reference_spans

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return remove_reference_spans(
            docs.where(F.col("doc_id") % 10 != 0),
            docs.where(F.col("doc_id") % 10 == 0),
            k=8, window=4, hash_family="xxhash64",
        )

    def ccnet_buckets_xxh64(spark, sf_dir):
        from pyspark.sql import functions as F

        from reflexiv_spark.datapipe.ccnet import ccnet_buckets

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return ccnet_buckets(
            docs.where(F.col("doc_id") % 10 != 0),
            docs.where(F.col("doc_id") % 10 == 0),
            dim=512, hash_family="xxhash64",
            bigram_lambda_micro=500_000,
        )

    def winnow_store_probe_xxh64(spark, sf_dir):
        from pyspark.sql import functions as F

        from reflexiv_spark.datapipe.winnow_store import (
            probe_winnow_store,
            winnow_store,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        store = winnow_store(
            docs.where(F.col("doc_id") % 10 == 0), k=8, window=4,
            hash_family="xxhash64",
        )
        return probe_winnow_store(
            docs.where(F.col("doc_id") % 10 != 0), store, k=8, window=4,
            min_shared=100, hash_family="xxhash64",
        )

    def embedding_store_probe(spark, sf_dir):
        # staged round 13 (registers r14): production IS the oracled
        # shape (exact-int64 cosine device)
        import __spark_entry__ as ent

        return ent.q_embedding_store_probe(spark, sf_dir)

    def badwords(spark, sf_dir):
        # staged round 13 (registers r14): the oracled shape IS the
        # production shape (all-integer literal-array scan)
        import __spark_entry__ as ent

        return ent.q_badwords(spark, sf_dir)

    def corpus_shuffle_xxh64(spark, sf_dir):
        from reflexiv_spark.datapipe.sampling import corpus_shuffle

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return corpus_shuffle(docs, salt="ep0", hash_family="xxhash64")

    return {
        "embedding_store_probe": embedding_store_probe,
        "badwords": badwords,
        "corpus_shuffle_xxh64": corpus_shuffle_xxh64,
        "dsir_select_xxh64": dsir_select_xxh64,
        "winnow_ref_removal_xxh64": winnow_ref_removal_xxh64,
        "ccnet_buckets_xxh64": ccnet_buckets_xxh64,
        "winnow_store_probe_xxh64": winnow_store_probe_xxh64,
        "incremental_candidates_xxh64": incremental_candidates_xxh64,
        "winnow_overlap_xxh64": winnow_overlap_xxh64,
        "winnow_spans_xxh64": winnow_spans_xxh64,
        "corpus_divergence_xxh64": corpus_divergence_xxh64,
        "edit_join_d1": edit_join_d1,
        "classifier_score_xxh64": classifier_score_xxh64,
        "hll_by_lang_xxh64": hll_by_lang_xxh64,
        "stratified_split_xxh64": stratified_split_xxh64,
        "triangle_count_xxh64": triangle_count_xxh64,
        "dup_spans_xxh64": dup_spans_xxh64,
        "minhash_near_dup_xxh64": minhash_near_dup_xxh64,
        "dup_clusters_xxh64": dup_clusters_xxh64,
        "decontaminate_xxh64": decontaminate_xxh64,
        "kmv_distinct_xxh64": kmv_distinct_xxh64,
        "ann_lsh_gauss": ann_lsh_gauss,
        "embedding_dedup_gauss": embedding_dedup_gauss,
        "ann_ivf_adaptive": ann_ivf_adaptive,
        "skew_near_dup": skew_near_dup,
    }


def main() -> None:
    import __spark_entry__ as ent
    from perfbench.harness import cpu_probe, cpu_ticks, release, steal_share
    from reflexiv_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="reflexiv-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = {**ent.queries(), **_bench_only_queries()}

    def run(name: str, d: str) -> float:
        # drop what earlier runs left persisted (their barriers' leaked
        # localCheckpoint blocks) before the clock starts
        release(spark)
        t0 = time.time()
        qs[name](spark, d).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # SPARK_GRAFT_BENCH_ALL=1 times the FULL registry (oracled queries
    # not in HEADLINE appended, registry order) — the tail queries
    # (reassemble, error_correct, cluster_keep_best, binary_meta, ...)
    # otherwise never appear in a bench artifact (VERDICT r7 #7)
    names = [n for n in HEADLINE if n in qs]
    if os.environ.get("SPARK_GRAFT_BENCH_ALL"):
        names += [n for n in qs if n not in set(names)]
    for n in names:  # warmup: codegen + JIT on the tiny SF
        try:
            run(n, "/root/testdata/sf0.001")
        except Exception:  # noqa: BLE001
            pass

    # Best-of-N per query (round 7: best-of-2, was single-run; round
    # 13: default 3). The box is tenant-shared and single-run rows
    # repeatedly recorded contention artifacts as regressions (r5:
    # events_window/multi_join_agg/prune_forks/text_stats; r6:
    # contig_dedup 1.47->2.16 on unchanged code; r12: a whole-capture
    # +26% that took a judge session to adjudicate as box contention).
    # min-of-N measures the plan, not the neighbor; the runs/agg
    # fields make the change explicit.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    # Contention sentinel (round 13, VERDICT r12 next-round #6): a
    # fixed tiny control query timed best-of-3 immediately after
    # warmup and again after the capture. Idle envelope, measured
    # best-of-3 on this box: ~0.10-0.25 s. The capture is marked
    # contention-suspect when either control read exceeds 3x the idle
    # ceiling (0.75 s — the whole capture ran loaded) or the two reads
    # spread by more than 1.5x AND the slower one sits above the idle
    # envelope (an idle-vs-idle wobble of a tenth of a second is ratio
    # noise, not load arriving — the first r13 idle capture read
    # 0.128 -> 0.331 s, spread 2.6, on a verified-idle box), so a slow
    # artifact carries its own adjudication evidence.
    _CONTROL = "top_orders"
    _CONTROL_ABS_SEC = 0.75
    _CONTROL_SPREAD = 1.5
    _CONTROL_SPREAD_FLOOR_SEC = 0.4

    def control_wall() -> float | None:
        # never let the sentinel kill the capture (control_last runs
        # AFTER the whole ~95 s sweep — losing the artifact to a
        # missing sf0.001 dir or a transient failure would be worse
        # than degrading to contention_suspect=null)
        try:
            return round(
                min(
                    run(_CONTROL, "/root/testdata/sf0.001")
                    for _ in range(3)
                ),
                3,
            )
        except Exception as e:  # noqa: BLE001
            print(f"bench: control query failed: {e}", file=sys.stderr)
            return None

    # Contention evidence DURING the sweep, which the two control reads
    # bracket but cannot see: the share of the machine's CPU time the
    # hypervisor stole while each query ran (all its runs), and a fixed
    # pure-Python loop timed at each end of the capture.
    probe_first = round(cpu_probe(), 4)
    control_first = control_wall()
    timings: dict[str, float] = {}
    steal: dict[str, float] = {}
    for n in names:
        start = cpu_ticks()
        try:
            timings[n] = round(min(run(n, sf_dir) for _ in range(n_runs)), 3)
        except Exception as e:  # noqa: BLE001
            print(f"bench: {n} failed: {e}", file=sys.stderr)
            timings[n] = -1.0
        steal[n] = round(steal_share(start), 4)
    # deliberately-quadratic EXACTNESS BASELINES (the recall/parity
    # yardsticks for the bucketed paths — embedding_topk for ann_lsh/
    # ann_ivf/pq_topk, ngram_jaccard for minhash): kept runnable, but
    # split out of the engine total so a full-registry capture measures
    # the engine, not the oracles it is beating (VERDICT r8 #6)
    # winnow_overlap joined the class in round 11 when it registered:
    # the UNCAPPED md5 driver semantics exist for oracle replay (they
    # OOM at sf1.0 by design — the hot-fp quadratic max_df guards);
    # the capped winnow_overlap_xxh64 row above is the production path
    BASELINES = {"embedding_topk", "ngram_jaccard", "winnow_overlap"}
    engine = {k: v for k, v in timings.items() if k not in BASELINES}
    base = {k: v for k, v in timings.items() if k in BASELINES}
    total = round(sum(v for v in engine.values() if v >= 0), 3)
    control_last = control_wall()
    probe_last = round(cpu_probe(), 4)
    if control_first is None or control_last is None:
        spread = None
        contended = None  # sentinel unavailable; capture still valid
    else:
        spread = round(
            max(control_first, control_last)
            / max(min(control_first, control_last), 1e-9),
            3,
        )
        contended = (
            max(control_first, control_last) > _CONTROL_ABS_SEC
            or (
                spread > _CONTROL_SPREAD
                and max(control_first, control_last)
                > _CONTROL_SPREAD_FLOOR_SEC
            )
        )
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": engine,
        "steal_share": steal,
        "cpu_probe_first_sec": probe_first,
        "cpu_probe_last_sec": probe_last,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "runs": n_runs,
        "agg": "min",
        "scope": "full_registry"
        if os.environ.get("SPARK_GRAFT_BENCH_ALL")
        else "headline",
        "control_query": _CONTROL,
        "control_first_sec": control_first,
        "control_last_sec": control_last,
        "control_spread": spread,
        "contention_suspect": contended,
    }
    if base:
        out["exactness_baselines"] = base
        out["exactness_baselines_total"] = round(
            sum(v for v in base.values() if v >= 0), 3
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
