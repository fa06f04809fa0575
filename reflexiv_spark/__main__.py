"""CLI — ``python -m reflexiv_spark <command> ...``.

Mirrors the reference's subcommand surface (``bin/reflexiv:240-267``:
run, meta, preprocess, counter, reduce, mercy, reassembler, merger) as a
thin argparse shim over the composable DataFrame API, plus the datapipe
extensions. Every command reads FASTQ/FASTA/Parquet, runs one operator
pipeline, and writes Parquet (or FASTA for contig outputs).
"""

from __future__ import annotations

import argparse
import sys


def _read_reads(spark, path: str, fmt: str):
    from reflexiv_spark.sources.records import read_fasta, read_fastq

    if fmt == "fastq":
        return read_fastq(spark, path)
    if fmt == "fasta":
        return read_fasta(spark, path).withColumnRenamed("id", "read_id")
    return spark.read.parquet(path)


def _read_contigs(spark, path: str):
    if path.endswith(".csv") or path.endswith(".csv.gz"):
        from reflexiv_spark.sources.fastq import read_contig_csv

        return read_contig_csv(spark, path)
    from pyspark.sql import functions as F

    from reflexiv_spark.sources.records import read_fasta

    if path.endswith((".parquet", ".pq")) or "parquet" in path:
        return spark.read.parquet(path)
    return read_fasta(spark, path).select(
        F.col("id").alias("contig_id"), "seq"
    )


def _write(df, path: str, fmt: str, id_col: str = "contig_id") -> None:
    if fmt == "fasta":
        from reflexiv_spark.sources.fastq import write_fasta

        write_fasta(df, path, id_col=id_col)
    elif fmt == "csv":
        df.write.mode("overwrite").option("header", True).csv(path)
    else:
        df.write.mode("overwrite").parquet(path)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="reflexiv_spark")
    p.add_argument("--master", default=None, help="spark master override")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name: str, **kw):
        sp = sub.add_parser(name, **kw)
        sp.add_argument("-i", "--input", required=True)
        sp.add_argument("-o", "--output", required=True)
        sp.add_argument("--informat", default="fastq",
                        choices=["fastq", "fasta", "parquet"])
        sp.add_argument("--outformat", default="parquet",
                        choices=["parquet", "csv", "fasta"])
        return sp

    c = add("counter", help="k-mer counting (reflexiv counter)")
    c.add_argument("-k", type=int, default=31)
    c.add_argument("--min-cov", type=int, default=2)
    c.add_argument("--max-cov", type=int, default=10_000_000)
    c.add_argument("--packed", action="store_true",
                   help="2-bit packed fast path (k <= 31, ~3x faster)")

    r = add("run", help="single-k assembly (reflexiv run)")
    r.add_argument("-k", type=int, default=31)
    r.add_argument("--min-cov", type=int, default=2)
    r.add_argument("--min-contig", type=int, default=500)
    r.add_argument("--packed", action="store_true",
                   help="2-bit packed k-mer ids from counting to final"
                        " assembly (one long for k <= 31, long blocks"
                        " above)")
    r.add_argument("--algorithm", choices=("contract", "rank"),
                   default="contract",
                   help="cycle rule of the pointer-doubling contraction:"
                        " 'contract' keeps one contig per circular genome,"
                        " 'rank' keeps anchored paths only")

    d = add("reduce", help="multi-k reduction ladder (reflexiv reduce)")
    d.add_argument("--klist", default="23,31,41,53,67,81,95")
    d.add_argument("--min-cov", type=int, default=2)

    me = add("meta", help="staged multi-k metagenome assembly (reflexiv meta)")
    me.add_argument("--klist", default="23,31,41")
    me.add_argument("--min-cov", type=int, default=2)
    me.add_argument("--min-contig", type=int, default=500)
    me.add_argument("--workdir", default=None,
                    help="stage barrier dir: per-k rounds materialize here "
                    "with _SUCCESS markers and completed rounds are skipped "
                    "on re-run (the reference's step resume, I4)")
    me.add_argument("--no-resume", action="store_true",
                    help="rebuild every round even if its marker exists")

    pp = add("preprocess", help="pair-merge + error-correct reads "
             "(reflexiv preprocess)")
    pp.add_argument("--in2", default=None,
                    help="mate FASTQ (R2); omit for single-end input")
    pp.add_argument("--min-overlap", type=int, default=10)
    pp.add_argument("--correct", action="store_true",
                    help="also run solid-k-mer error correction (X3)")
    pp.add_argument("-k", type=int, default=21)
    pp.add_argument("--min-cov", type=int, default=2)

    m = add("mercy", help="mercy k-mer rescue (reflexiv mercy)")
    m.add_argument("-k", type=int, default=31)
    m.add_argument("--min-cov", type=int, default=2)

    dd = add("dedup", help="contig dedup (exact/RC + containment)")
    mg = add("merger", help="merge overlapping contigs (reflexiv merger)")
    mg.add_argument("--min-overlap", type=int, default=60)

    fx = add("fix", help="junction fixing across unique end k-mers")
    fx.add_argument("--fix-k", type=int, default=31)

    ra = add("reassembler", help="extend gene fragments with read data")
    ra.add_argument("--frag", required=True, help="fragment FASTA path")
    ra.add_argument("-k", type=int, default=31)
    ra.add_argument("--min-cov", type=int, default=2)

    st = add("stitch", help="bridge contigs with read evidence (reflexiv stitch)")
    st.add_argument("--contigs", required=True, help="contig FASTA/parquet path")
    st.add_argument("--klist", default="61,31,21")
    st.add_argument("--min-support", type=int, default=1)

    ee = add("endextend", help="map reads to contig ends, consensus-extend (X2)")
    ee.add_argument("--contigs", required=True, help="contig FASTA/parquet path")
    ee.add_argument("--seed-k", type=int, default=21)
    ee.add_argument("--min-depth", type=int, default=2)

    t = add("text-dedup", help="datapipe: exact + near-dup text dedup")
    t.add_argument("--text-col", default="text")
    t.add_argument("--id-col", default="doc_id")
    t.add_argument("--near", action="store_true",
                   help="also drop MinHash near-duplicates")

    ts = add("text-stats", help="datapipe: per-document text statistics")
    ts.add_argument("--text-col", default="text")
    ts.add_argument("--id-col", default="doc_id")

    tc = add("text-clean", help="datapipe: composed cleaning pipeline "
             "(score -> filter -> exact dedup -> near-dup dedup)")
    tc.add_argument("--text-col", default="text")
    tc.add_argument("--id-col", default="doc_id")
    tc.add_argument("--min-tokens", type=int, default=20)
    tc.add_argument("--max-tokens", type=int, default=100_000)
    tc.add_argument("--min-quality", type=float, default=0.6)
    tc.add_argument("--langs", default="en",
                    help="comma-separated allowlist; 'any' disables")
    tc.add_argument("--no-near", action="store_true",
                    help="skip the MinHash near-dup stage")

    cl = add("text-cluster", help="datapipe: near-dup clustering "
             "(MinHash pairs -> connected components); --keep-best "
             "writes the surviving docs instead of the cluster map")
    cl.add_argument("--text-col", default="text")
    cl.add_argument("--id-col", default="doc_id")
    cl.add_argument("--threshold", type=float, default=0.5)
    cl.add_argument("--keep-best", action="store_true",
                    help="one survivor per cluster, by quality score")
    cl.add_argument("--star", action="store_true",
                    help="spanning-star candidates per LSH bucket (n-1 "
                    "edges instead of all pairs — the clone-heavy-corpus "
                    "scale path; same components on clone families)")

    dc = add("decontam", help="datapipe: flag training docs sharing "
             "word n-grams with an eval set")
    dc.add_argument("--eval", required=True, dest="eval_path",
                    help="eval/benchmark parquet path")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("-n", "--ngram", type=int, default=13)

    bp = add("bpe-train", help="datapipe: learn BPE merge rules from the corpus")
    bp.add_argument("--text-col", default="text")
    bp.add_argument("--id-col", default="doc_id")
    bp.add_argument("--merges", type=int, default=50)
    bp.add_argument("--sample", type=float, default=None,
                    help="train on a deterministic hash-sample of the "
                    "documents (the production shape for large "
                    "vocabularies; e.g. 0.01)")

    pk = add("text-pack", help="datapipe: concat-then-chunk sequence packing "
             "(window id + offset per document)")
    pk.add_argument("--text-col", default="text")
    pk.add_argument("--id-col", default="doc_id")
    pk.add_argument("--window", type=int, default=2048,
                    help="context window size in tokens")

    sp_ = add("text-split", help="datapipe: exact-proportion stratified "
              "train/val/test assignment (deterministic, re-layout-stable)")
    sp_.add_argument("--id-col", default="doc_id")
    sp_.add_argument("--stratum-col", default="lang")
    sp_.add_argument("--fractions", default="train:0.8,val:0.1,test:0.1",
                     help="name:frac pairs; fracs must sum to 1")

    ds = add("text-spans", help="datapipe: substring-level duplicate-span "
             "report (--drop rewrites docs with duplicated runs removed)")
    ds.add_argument("--text-col", default="text")
    ds.add_argument("--id-col", default="doc_id")
    ds.add_argument("-n", "--ngram", type=int, default=8)
    ds.add_argument("--min-count", type=int, default=2)
    ds.add_argument("--drop", action="store_true",
                    help="emit cleaned text instead of the span report; "
                    "'cleaned' is the normalized token stream (lowercased, "
                    "punctuation-stripped, single-space joined), not a "
                    "substring rewrite of the original text")

    pr = add("pagerank", help="graph: fixed-iteration PageRank over a "
             "(src, dst) edge parquet")
    pr.add_argument("--src-col", default="src")
    pr.add_argument("--dst-col", default="dst")
    pr.add_argument("--iters", type=int, default=10)
    pr.add_argument("--damping", type=float, default=0.85)

    tt_ = add("text-train", help="datapipe: train the hashed quality "
              "classifier (fixed-point full-batch logistic regression); "
              "emits the (idx, weight) model parquet for text-score "
              "--model / logreg_predict")
    tt_.add_argument("--label-col", required=True,
                     help="0/1 (or boolean) label column on the input")
    tt_.add_argument("--text-col", default="text")
    tt_.add_argument("--id-col", default="doc_id")
    tt_.add_argument("--dim", type=int, default=4096)
    tt_.add_argument("--no-bigrams", action="store_true")
    tt_.add_argument("--iters", type=int, default=2)
    tt_.add_argument("--lr", type=float, default=0.5)

    di_ = add("dsir", help="datapipe: DSIR importance-resampling data "
              "selection — score raw docs against a target-corpus "
              "distribution; emits (doc_id, n_feats, log_weight), or the "
              "selected docs with --select-k")
    di_.add_argument("--target", required=True,
                     help="parquet path of the TARGET corpus")
    di_.add_argument("--text-col", default="text")
    di_.add_argument("--id-col", default="doc_id")
    di_.add_argument("--dim", type=int, default=4096)
    di_.add_argument("--no-bigrams", action="store_true")
    di_.add_argument("--select-k", type=int, default=None,
                     help="Gumbel-top-k resample this many docs instead "
                     "of emitting weights")

    sd_ = add("semdedup", help="datapipe: SemDeDup semantic dedup — "
              "k-means-cell-bounded pairwise cosine over an embedding "
              "parquet; emits the surviving rows")
    sd_.add_argument("--id-col", default="vec_id")
    sd_.add_argument("--vec-col", default="embedding")
    sd_.add_argument("--dim", type=int, default=64)
    sd_.add_argument("--threshold", type=float, default=0.95)
    sd_.add_argument("--n-centroids", type=int, default=16)
    sd_.add_argument("--n-iter", type=int, default=2)

    qt_ = add("quantiles", help="datapipe: mergeable rank-grid quantile "
              "summary of a numeric column (capacity-bounded, exact "
              "integer ranks; optionally evaluate quantile points)")
    qt_.add_argument("--value-col", default="n_tokens")
    qt_.add_argument("--capacity", type=int, default=256)
    qt_.add_argument("--qs", default=None,
                     help="comma-separated quantile points (e.g. "
                     "0.5,0.9,0.99) — emits (q, value) instead of the "
                     "raw (rank, value) summary")

    kn_ = add("knn", help="datapipe: cell-bounded k-nearest-neighbor "
              "graph over an embedding parquet — top-k cosine edges "
              "per vector within its k-means cell")
    kn_.add_argument("--id-col", default="vec_id")
    kn_.add_argument("--vec-col", default="embedding")
    kn_.add_argument("--dim", type=int, default=64)
    kn_.add_argument("-k", type=int, default=10)
    kn_.add_argument("--n-centroids", type=int, default=16)
    kn_.add_argument("--max-cell-rows", type=int, default=None,
                     help="split cells larger than this into id-mod "
                     "sub-cells (bounds task memory; recall becomes "
                     "shard-local)")

    ts_ = add("text-strip", help="datapipe: strip HTML/markup to plain text")
    ts_.add_argument("--text-col", default="text")
    ts_.add_argument("--id-col", default="doc_id")

    sc_ = add("text-score", help="datapipe: hashed-linear (fastText-style) "
              "quality-classifier logits")
    sc_.add_argument("--text-col", default="text")
    sc_.add_argument("--id-col", default="doc_id")
    sc_.add_argument("--dim", type=int, default=4096)
    sc_.add_argument("--no-bigrams", action="store_true")

    se_ = add("text-select", help="datapipe: greedy per-group selection "
              "under a token budget (best docs first)")
    se_.add_argument("--budget", type=int, required=True,
                     help="token budget per group (soft cap)")
    se_.add_argument("--group-col", default="lang")
    se_.add_argument("--order-col", default="n_chars")
    se_.add_argument("--text-col", default="text")
    se_.add_argument("--id-col", default="doc_id")

    hl = add("ndv", help="sketch: per-group HyperLogLog distinct-count "
             "estimate over a key column")
    hl.add_argument("--key-col", required=True)
    hl.add_argument("--group-col", required=True)
    hl.add_argument("-p", type=int, default=8,
                    help="2^p registers per group")

    pe = add("pq-encode", help="similarity: product-quantization codes "
             "(m subspace cells per vector)")
    pe.add_argument("--vec-col", default="embedding")
    pe.add_argument("--id-col", default="vec_id")
    pe.add_argument("-m", type=int, default=8)
    pe.add_argument("--ksub", type=int, default=16)

    ps_ = add("pq-search", help="similarity: PQ asymmetric-distance top-k "
              "vs the min-id query vector")
    ps_.add_argument("--vec-col", default="embedding")
    ps_.add_argument("--id-col", default="vec_id")
    ps_.add_argument("-k", type=int, default=20)
    ps_.add_argument("-m", type=int, default=8)
    ps_.add_argument("--ksub", type=int, default=16)

    cr_ = add("corpus-report", help="datapipe: per-language data-card "
              "summary — doc/token/empty counts, exact median doc "
              "length, exact-duplicate membership, source spread")
    cr_.add_argument("--text-col", default="text")
    cr_.add_argument("--id-col", default="doc_id")
    cr_.add_argument("--lang-col", default="lang")
    cr_.add_argument("--source-col", default="source")

    uf_ = add("url-filter", help="datapipe: URL-level curation — "
              "parse host/domain/path/ext, extension allowlist + "
              "UT1-style domain/host blocklist verdict per doc; "
              "--stats emits per-domain statistics instead")
    uf_.add_argument("--url-col", default="url")
    uf_.add_argument("--id-col", default="doc_id")
    uf_.add_argument("--blocklist", default=None,
                     help="parquet with a 'domain' column (domains or "
                     "exact hosts to drop)")
    uf_.add_argument("--psl", default=None,
                     help="parquet public-suffix list (column "
                     "'suffix'): registered domains via longest-"
                     "suffix match instead of the last-two-label "
                     "heuristic")
    uf_.add_argument("--keep-only", action="store_true",
                     help="emit only kept rows (verdict columns dropped)")
    uf_.add_argument("--stats", action="store_true",
                     help="per-domain (n_docs, n_hosts, total_chars)")

    pl_ = add("pipeline", help="datapipe: run a declarative JSON "
              "curation pipeline (stages of strip/rules/dedup/sample "
              "ops) with optional per-stage Parquet barriers and "
              "_SUCCESS-gated resume — the step-resume semantics the "
              "genomics ladders already use")
    pl_.add_argument("--spec", required=True,
                     help='JSON file: {"stages": [{"op": name, '
                     "...params}, ...]}")
    pl_.add_argument("--workdir", default=None,
                     help="stage-barrier directory; restarts skip "
                     "completed stages")
    pl_.add_argument("--no-resume", action="store_true",
                     help="rebuild every stage even if its barrier "
                     "completed")
    pl_.add_argument("--text-col", default="text")
    pl_.add_argument("--id-col", default="doc_id")

    es_ = add("export-shards", help="datapipe: materialize the corpus "
              "as contiguous ~N-token training shards "
              "(path/shard_id=K/ of JSONL or parquet) and write the "
              "per-shard manifest — the loader-facing export step")
    es_.add_argument("--target-tokens", type=int, default=100_000_000,
                     help="approximate tokens per shard (±1 document)")
    es_.add_argument("--id-col", default="doc_id")
    es_.add_argument("--text-col", default="text")
    es_.add_argument("--token-col", default=None,
                     help="precomputed token-count column (default: "
                     r"count \w+ words of --text-col)")
    es_.add_argument("--shard-format", choices=("jsonl", "parquet"),
                     default="jsonl")
    es_.add_argument("--manifest", default=None,
                     help="also write the (shard_id, n_docs, n_tokens, "
                     "first_id, last_id) manifest parquet here")

    tm_ = add("text-mix", help="datapipe: temperature-scaled "
              "multi-source sampling (XLM q_i ∝ t_i^alpha under a "
              "token budget) — deterministic hash-gated, "
              "reproducible under any partitioning")
    tm_.add_argument("--alpha", type=float, default=0.5)
    tm_.add_argument("--budget-frac", type=float, default=0.5)
    tm_.add_argument("--source-col", default="source")
    tm_.add_argument("--id-col", default="doc_id")
    tm_.add_argument("--text-col", default="text")
    tm_.add_argument("--token-col", default=None)
    tm_.add_argument("--salt", default="temp")
    tm_.add_argument("--hash-family", choices=("md5", "xxhash64"),
                     default="md5")

    bw_ = add("badwords-filter", help="datapipe: C4 §2.2 blocklist-"
              "word page filtering — per-doc distinct word hits, "
              "phrase substring hits, keep flag (or --keep-only rows);"
              " the list ships as a literal in one zero-shuffle scan")
    bw_.add_argument("--words", default=None,
                     help="comma-separated blocklist words "
                     "(exact-token, lowercased)")
    bw_.add_argument("--words-file", default=None,
                     help="file with one blocklist entry per line; "
                     "entries containing whitespace are treated as "
                     "phrases")
    bw_.add_argument("--phrases", default=None,
                     help="comma-separated blocklist phrases "
                     "(substring match, lowercased)")
    bw_.add_argument("--text-col", default="text")
    bw_.add_argument("--id-col", default="doc_id")
    bw_.add_argument("--keep-only", action="store_true",
                     help="emit the surviving input rows instead of "
                     "the flag relation")

    tl_ = add("training-layout", help="datapipe: composed export "
              "stage — temperature mix → epoch shuffle → document-"
              "atomic token shards; emits the per-shard manifest "
              "(or --plan for the per-document layout)")
    tl_.add_argument("--target-tokens", type=int, required=True)
    tl_.add_argument("--alpha", type=float, default=0.5)
    tl_.add_argument("--budget-frac", type=float, default=0.5)
    tl_.add_argument("--source-col", default="source")
    tl_.add_argument("--id-col", default="doc_id")
    tl_.add_argument("--text-col", default="text")
    tl_.add_argument("--token-col", default=None)
    tl_.add_argument("--epoch-salt", default="ep0")
    tl_.add_argument("--mix-salt", default="temp")
    tl_.add_argument("--hash-family", choices=("md5", "xxhash64"),
                     default="md5")
    tl_.add_argument("--plan", action="store_true",
                     help="emit the per-document (position, id, "
                     "n_tokens, shard_id, shard_offset) plan instead "
                     "of the manifest")

    sh_ = add("text-shuffle", help="datapipe: deterministic global "
              "training shuffle — 0-based position of every doc in "
              "hash(id, salt) order via the two-phase prefix scan; "
              "salt per epoch, bit-reproducible under any layout")
    sh_.add_argument("--id-col", default="doc_id")
    sh_.add_argument("--salt", default="shuffle")
    sh_.add_argument("--hash-family", choices=("md5", "xxhash64"),
                     default="md5")

    we_ = add("warc-extract", help="sources: WARC (Common Crawl) → "
              "documents-shaped table (doc_id, record_id, url, "
              "warc_date, content_type, http_status, text) — keeps "
              "HTTP 200 responses by default; the ingestion step every "
              "datapipe operator consumes. doc_id is a 62-bit hash of "
              "the WARC record id (~1 expected colliding pair per ~3B "
              "records); record_id rides along so collisions are "
              "recoverable")
    we_.add_argument("--split-size", type=int, default=64 << 20)
    we_.add_argument("--keep-all", action="store_true",
                     help="keep every record type/status (text NULL "
                     "when the payload is not an HTTP message)")
    we_.add_argument("--wet", action="store_true",
                     help="input is WET (extracted text): keep "
                     "'conversion' records, text = raw payload")

    ic_ = add("dedup-incremental", help="datapipe: dedup a batch "
              "against a persisted fingerprint store (anti-join + "
              "within-batch keep-first); optionally write the updated "
              "store")
    ic_.add_argument("--store", default=None,
                     help="parquet of seen fingerprints (fp bigint); "
                     "omit for an empty store (first batch)")
    ic_.add_argument("--emit-store", default=None,
                     help="write the UPDATED fingerprint store here")
    ic_.add_argument("--text-col", default="text")
    ic_.add_argument("--id-col", default="doc_id")
    ic_.add_argument("--hash-family", default="xxhash64",
                     choices=["xxhash64", "md5"])

    wp_ = add("winnow-probe", help="datapipe: probe a batch against a "
              "persisted winnow fingerprint store — per-doc (n_fps, "
              "n_hits, flagged) span-level boilerplate detection "
              "across batches; optionally write the updated store")
    wp_.add_argument("--store", default=None,
                     help="parquet of seen winnow fingerprints (fp "
                     "bigint); omit for an empty store (first batch)")
    wp_.add_argument("--emit-store", default=None,
                     help="write the UPDATED fingerprint store here")
    wp_.add_argument("--text-col", default="text")
    wp_.add_argument("--id-col", default="doc_id")
    wp_.add_argument("-k", type=int, default=8)
    wp_.add_argument("--window", type=int, default=4)
    wp_.add_argument("--min-shared", type=int, default=2)
    wp_.add_argument("--hash-family", default="xxhash64",
                     choices=["xxhash64", "md5"])

    ep_ = add("embedding-probe", help="datapipe: probe a batch of "
              "vectors against a persisted SEMANTIC store (k-means "
              "cell + quantized embedding) for cosine near-duplicates "
              "— per vector (n_candidates, best_store_id, flagged); "
              "cell-confined, never batch x store")
    ep_.add_argument("--store", default=None,
                     help="parquet of the embedding store (vec_id, "
                     "cell, qv, n2); omit with --build to create one")
    ep_.add_argument("--centroids", default=None,
                     help="parquet of the quantizer model (cell, "
                     "cvec array<bigint>) — REQUIRED with --store "
                     "(store and probe must share the model)")
    ep_.add_argument("--build", action="store_true",
                     help="treat the input as a corpus: train the "
                     "quantizer, emit the store (--emit-store) and "
                     "model (--emit-centroids) instead of probing")
    ep_.add_argument("--emit-store", default=None,
                     help="write the (updated or built) store here")
    ep_.add_argument("--emit-centroids", default=None,
                     help="with --build: write the quantizer model")
    ep_.add_argument("--threshold", type=float, default=0.8)
    ep_.add_argument("--dim", type=int, default=64)
    ep_.add_argument("--n-centroids", type=int, default=16)
    ep_.add_argument("--id-col", default="vec_id")
    ep_.add_argument("--vec-col", default="embedding")

    bf_ = add("bloom-decontam", help="sketch: Bloom membership "
              "pre-screen — build a bit filter over --target's words, "
              "probe every input doc map-side (no corpus shuffle); "
              "emits doc_id, n_terms, n_hits")
    bf_.add_argument("--target", required=True,
                     help="parquet of the corpus whose words build the filter")
    bf_.add_argument("--text-col", default="text")
    bf_.add_argument("--id-col", default="doc_id")
    bf_.add_argument("--m-bits", type=int, default=1 << 20)
    bf_.add_argument("--k-hashes", type=int, default=4)
    bf_.add_argument("--hash-family", default="xxhash64",
                     choices=["xxhash64", "md5"])

    ip_ = add("ivfpq-search", help="similarity: IVF-PQ ADC top-k — "
              "kmeans coarse cells pruned to n-probes lists, residual "
              "PQ codes, m-lookup scoring vs the min-id query")
    ip_.add_argument("--vec-col", default="embedding")
    ip_.add_argument("--id-col", default="vec_id")
    ip_.add_argument("-k", type=int, default=20)
    ip_.add_argument("-m", type=int, default=8)
    ip_.add_argument("--ksub", type=int, default=16)
    ip_.add_argument("--dim", type=int, default=64)
    ip_.add_argument("--n-centroids", type=int, default=16)
    ip_.add_argument("--n-probes", type=int, default=4)

    ej_ = add("edit-join", help="datapipe: EXACT edit-distance "
              "similarity join — all pairs within Levenshtein d on "
              "normalized prefix keys (FastSS deletion-neighborhood "
              "candidates + JVM levenshtein verify, no all-pairs)")
    ej_.add_argument("--text-col", default="text")
    ej_.add_argument("--id-col", default="doc_id")
    ej_.add_argument("-d", "--max-dist", type=int, default=1)
    ej_.add_argument("--key-len", type=int, default=16)

    wn_ = add("winnow", help="datapipe: winnowing fingerprints "
              "(SIGMOD'03) — zero-shuffle per-doc rightmost-min k-gram "
              "selection; --pairs emits MOSS overlap pairs instead")
    wn_.add_argument("--text-col", default="text")
    wn_.add_argument("--id-col", default="doc_id")
    wn_.add_argument("-k", type=int, default=8)
    wn_.add_argument("--window", type=int, default=4)
    wn_.add_argument("--pairs", action="store_true",
                     help="emit (id_a, id_b, n_shared) overlap pairs")
    wn_.add_argument("--min-shared", type=int, default=2)
    wn_.add_argument("--max-df", type=int, default=None,
                     help="stop-gram cap: drop fingerprints present in "
                     "more than this many docs before pairing (the "
                     "hot-fp quadratic backstop; recommended at scale)")
    wn_.add_argument("--hash-family", default="xxhash64",
                     choices=["xxhash64", "md5"])
    wn_.add_argument("--remove-spans", action="store_true",
                     help="emit (id, n_spans, chars_removed, clean_text)"
                     " — excise each non-owner doc's matched k-gram"
                     " spans (character-level ExactSubstr-style removal"
                     " at winnow granularity)")
    wn_.add_argument("--ref", dest="ref_path", default=None,
                     help="with --remove-spans: excise spans matching"
                     " THIS reference corpus's fingerprints instead of"
                     " within-corpus owners (decontamination surgery)")

    qf_ = add("quality-filter", help="datapipe: published quality-rule "
              "bundles — Gopher (Rae et al. 2021 App. A), C4 (Raffel "
              "et al. 2020 §2.2), or FineWeb (Penedo et al. 2024 §3.6);"
              " per-doc integer counts + keep flag (+ clean_text for"
              " c4)")
    qf_.add_argument("--ruleset", choices=["gopher", "c4", "fineweb"],
                     default="gopher")
    qf_.add_argument("--text-col", default="text")
    qf_.add_argument("--id-col", default="doc_id")
    qf_.add_argument("--min-words", type=int, default=50)
    qf_.add_argument("--min-stop-hits", type=int, default=2)
    qf_.add_argument("--min-line-words", type=int, default=5)
    qf_.add_argument("--min-sentences", type=int, default=3)
    qf_.add_argument("--keep-only", action="store_true",
                     help="emit only rows with keep = true")

    cn_ = add("ccnet-buckets", help="datapipe: CCNet-style quality "
              "split — score docs under a REFERENCE corpus's "
              "hashed-unigram model, cut each language into exact "
              "head/middle/tail tertiles by per-token NLL")
    cn_.add_argument("--ref", dest="ref_path", required=True,
                     help="parquet of the clean reference corpus")
    cn_.add_argument("--text-col", default="text")
    cn_.add_argument("--id-col", default="doc_id")
    cn_.add_argument("--lang-col", default="lang")
    cn_.add_argument("--dim", type=int, default=4096)
    cn_.add_argument("--hash-family", default="xxhash64",
                     choices=["xxhash64", "md5"])

    dv_ = add("divergence", help="datapipe: hashed-bucket KL "
              "divergence between two corpora (per-bucket micro-unit "
              "table; --summary for the scalar sums) — the mixture-"
              "calibration companion of dsir")
    dv_.add_argument("--other", dest="other_path", required=True,
                     help="parquet of corpus B (input -i is corpus A)")
    dv_.add_argument("--text-col", default="text")
    dv_.add_argument("--id-col", default="doc_id")
    dv_.add_argument("--dim", type=int, default=4096)
    dv_.add_argument("--no-bigrams", action="store_true")
    dv_.add_argument("--hash-family", default="xxhash64",
                     choices=["xxhash64", "md5"])
    dv_.add_argument("--summary", action="store_true",
                     help="emit the one-row scalar sums instead of the"
                     " per-bucket table")

    sd_ = add("semantic-decontam", help="datapipe: embedding-level "
              "decontamination — flag train vectors whose nearest "
              "eval vector is above a cosine threshold (broadcast "
              "eval pack, in-row argmax, no corpus shuffle)")
    sd_.add_argument("--eval", dest="eval_path", required=True,
                     help="parquet of the eval/benchmark embeddings")
    sd_.add_argument("--vec-col", default="embedding")
    sd_.add_argument("--id-col", default="vec_id")
    sd_.add_argument("--threshold", type=float, default=0.9)
    sd_.add_argument("--dim", type=int, default=64)

    args = p.parse_args(argv)

    from reflexiv_spark.session import get_spark

    spark = get_spark(app_name=f"reflexiv-{args.cmd}", master=args.master)

    if args.cmd == "counter":
        if args.packed:
            from reflexiv_spark.operators.counter_packed import (
                count_kmers_packed as count_kmers,
            )
        else:
            from reflexiv_spark.operators.counter import count_kmers

        out = count_kmers(
            _read_reads(spark, args.input, args.informat), args.k,
            min_coverage=args.min_cov, max_coverage=args.max_cov,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "run":
        from reflexiv_spark.pipelines.assemble import assemble

        out = assemble(
            _read_reads(spark, args.input, args.informat), k=args.k,
            min_coverage=args.min_cov, min_contig=args.min_contig,
            packed=args.packed, algorithm=args.algorithm,
        )
        _write(out, args.output, args.outformat, id_col="contig_id")
    elif args.cmd == "reduce":
        from reflexiv_spark.operators.reduction import reduce_kmer_ladder

        klist = tuple(int(x) for x in args.klist.split(","))
        out = reduce_kmer_ladder(
            _read_reads(spark, args.input, args.informat),
            klist=klist, min_coverage=args.min_cov,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "meta":
        from reflexiv_spark.pipelines.meta import meta_assemble

        klist = tuple(int(x) for x in args.klist.split(","))
        out = meta_assemble(
            _read_reads(spark, args.input, args.informat),
            klist=klist, min_coverage=args.min_cov,
            min_contig=args.min_contig, workdir=args.workdir,
            spark=spark, resume=not args.no_resume,
        )
        _write(out, args.output, args.outformat, id_col="contig_id")
    elif args.cmd == "preprocess":
        reads = _read_reads(spark, args.input, args.informat)
        if args.in2:
            from reflexiv_spark.operators.preprocess import merge_read_pairs

            r2 = _read_reads(spark, args.in2, args.informat)
            reads = merge_read_pairs(
                reads, r2, id_col="read_id", seq_col="seq",
                min_overlap=args.min_overlap,
            ).select("read_id", "seq")
        if args.correct:
            from reflexiv_spark.operators.preprocess import correct_reads

            reads = correct_reads(reads, k=args.k, min_coverage=args.min_cov)
        if args.outformat == "fasta":
            # preprocess output is read rows, not contigs: FASTA headers
            # come from read_id. correct_reads returns bare sequences, so
            # regenerate deterministic ids (content hash + a per-duplicate
            # ordinal — no monotonically_increasing_id).
            from pyspark.sql import Window
            from pyspark.sql import functions as F

            if "read_id" not in reads.columns:
                w = Window.partitionBy("seq").orderBy(F.lit(1))
                reads = reads.select(
                    F.concat_ws(
                        "-",
                        F.lit("read"),
                        F.lower(F.hex(F.xxhash64("seq"))),
                        F.row_number().over(w).cast("string"),
                    ).alias("read_id"),
                    "seq",
                )
            _write(reads, args.output, "fasta", id_col="read_id")
        else:
            _write(reads, args.output, args.outformat)
    elif args.cmd == "mercy":
        from reflexiv_spark.operators.mercy import mercy_kmers

        reads = _read_reads(spark, args.input, args.informat)
        _write(
            mercy_kmers(reads, None, args.k, min_coverage=args.min_cov),
            args.output,
            args.outformat,
        )
    elif args.cmd == "dedup":
        from reflexiv_spark.operators.dedup import dedup_contigs

        out = dedup_contigs(_read_contigs(spark, args.input))
        _write(out, args.output, args.outformat, id_col="contig_id")
    elif args.cmd == "merger":
        from reflexiv_spark.operators.merger import merge_contigs

        out = merge_contigs(
            _read_contigs(spark, args.input), min_overlap=args.min_overlap
        )
        _write(out, args.output, args.outformat, id_col="contig_id")
    elif args.cmd == "fix":
        from pyspark.sql import functions as F

        from reflexiv_spark.operators.fixing import fix_junctions

        fixed = fix_junctions(_read_contigs(spark, args.input), fix_k=args.fix_k)
        out = fixed.select(
            F.concat(F.lit("Fixed-"), F.lower(F.hex(F.xxhash64("seq")))).alias(
                "contig_id"
            ),
            "seq",
        )
        _write(out, args.output, args.outformat, id_col="contig_id")
    elif args.cmd == "reassembler":
        from reflexiv_spark.pipelines.reassemble import reassemble
        from reflexiv_spark.sources.records import read_fasta

        frags = read_fasta(spark, args.frag).withColumnRenamed("id", "frag_id")
        out = reassemble(
            _read_reads(spark, args.input, args.informat), frags,
            k=args.k, min_coverage=args.min_cov,
        )
        _write(out, args.output, args.outformat, id_col="frag_id")
    elif args.cmd == "stitch":
        from reflexiv_spark.pipelines.stitch import stitch_contigs

        ks = tuple(int(x) for x in args.klist.split(","))
        out = stitch_contigs(
            _read_reads(spark, args.input, args.informat),
            _read_contigs(spark, args.contigs),
            ks=ks, min_support=args.min_support,
        )
        _write(out, args.output, args.outformat, id_col="contig_id")
    elif args.cmd == "endextend":
        from reflexiv_spark.operators.mapping import extend_contigs_with_reads

        out = extend_contigs_with_reads(
            _read_contigs(spark, args.contigs),
            _read_reads(spark, args.input, args.informat),
            seed_k=args.seed_k, min_depth=args.min_depth,
        )
        _write(out, args.output, args.outformat, id_col="contig_id")
    elif args.cmd == "text-dedup":
        from reflexiv_spark.datapipe.dedup import exact_dedup, minhash_dedup

        df = spark.read.parquet(args.input)
        out = exact_dedup(df, text_col=args.text_col, id_col=args.id_col)
        if args.near:
            out = minhash_dedup(out, text_col=args.text_col, id_col=args.id_col)
        _write(out, args.output, args.outformat)
    elif args.cmd == "text-stats":
        from reflexiv_spark.datapipe.text import text_stats

        df = spark.read.parquet(args.input)
        _write(
            text_stats(df, text_col=args.text_col, id_col=args.id_col),
            args.output,
            args.outformat,
        )
    elif args.cmd == "text-clean":
        from reflexiv_spark.datapipe.pipeline import clean_corpus

        df = spark.read.parquet(args.input)
        out = clean_corpus(
            df,
            text_col=args.text_col,
            id_col=args.id_col,
            min_tokens=args.min_tokens,
            max_tokens=args.max_tokens,
            min_quality=args.min_quality,
            langs=None if args.langs == "any" else tuple(args.langs.split(",")),
            near_dup=not args.no_near,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "text-cluster":
        from reflexiv_spark.datapipe.cluster import (
            dup_clusters,
            keep_best_per_cluster,
        )
        from reflexiv_spark.datapipe.dedup import (
            minhash_lsh_pairs,
            minhash_star_edges,
        )

        df = spark.read.parquet(args.input)
        pair_fn = minhash_star_edges if args.star else minhash_lsh_pairs
        pairs = pair_fn(
            df, text_col=args.text_col, id_col=args.id_col,
            threshold=args.threshold,
        )
        if args.keep_best:
            from reflexiv_spark.datapipe.text import quality_score

            score = quality_score(
                df, text_col=args.text_col, id_col=args.id_col
            ).select(args.id_col, "quality")
            out = keep_best_per_cluster(
                df, pairs, score, id_col=args.id_col
            )
        else:
            out = dup_clusters(pairs, id_col=args.id_col)
        _write(out, args.output, args.outformat)
    elif args.cmd == "decontam":
        from reflexiv_spark.datapipe.decontam import decontaminate

        out = decontaminate(
            spark.read.parquet(args.input),
            spark.read.parquet(args.eval_path),
            text_col=args.text_col, id_col=args.id_col, n=args.ngram,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "bpe-train":
        from reflexiv_spark.datapipe.bpe import bpe_train

        merges, _ = bpe_train(
            spark.read.parquet(args.input),
            n_merges=args.merges,
            text_col=args.text_col,
            id_col=args.id_col,
            sample=args.sample,
        )
        _write(merges, args.output, args.outformat)
    elif args.cmd == "text-pack":
        from reflexiv_spark.datapipe.packing import pack_sequences

        out = pack_sequences(
            spark.read.parquet(args.input),
            window_tokens=args.window,
            id_col=args.id_col,
            text_col=args.text_col,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "text-split":
        from reflexiv_spark.datapipe.sampling import stratified_split

        fractions = []
        for part in args.fractions.split(","):
            name, sep, frac = part.partition(":")
            if not sep or not name:
                p.error(
                    f"--fractions: malformed pair {part!r} "
                    "(expected name:frac, e.g. train:0.8)"
                )
            try:
                fractions.append((name, float(frac)))
            except ValueError:
                p.error(
                    f"--fractions: {frac!r} is not a number in pair {part!r}"
                )
        for name, frac in fractions:
            if frac <= 0:
                p.error(
                    f"--fractions: {name}:{frac!r} must be positive"
                )
        total = sum(f for _, f in fractions)
        if abs(total - 1.0) > 1e-9:
            p.error(
                f"--fractions must sum to 1, got {total!r} "
                f"from {args.fractions!r}"
            )
        fractions = tuple(fractions)
        out = stratified_split(
            spark.read.parquet(args.input),
            fractions=fractions,
            stratum_col=args.stratum_col,
            id_col=args.id_col,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "text-spans":
        from reflexiv_spark.datapipe.dedup import (
            drop_duplicate_spans,
            duplicate_ngram_spans,
        )

        fn = drop_duplicate_spans if args.drop else duplicate_ngram_spans
        out = fn(
            spark.read.parquet(args.input),
            n=args.ngram,
            text_col=args.text_col,
            id_col=args.id_col,
            min_count=args.min_count,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "pagerank":
        from reflexiv_spark.datapipe.graph import pagerank

        out = pagerank(
            spark.read.parquet(args.input),
            iters=args.iters,
            damping=args.damping,
            src=args.src_col,
            dst=args.dst_col,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "text-train":
        from reflexiv_spark.datapipe.classifier import train_logreg_hashed

        out = train_logreg_hashed(
            spark.read.parquet(args.input),
            args.label_col,
            text_col=args.text_col, id_col=args.id_col, dim=args.dim,
            use_bigrams=not args.no_bigrams, iters=args.iters, lr=args.lr,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "dsir":
        from reflexiv_spark.datapipe.dsir import dsir_log_weights, dsir_select

        raw = spark.read.parquet(args.input)
        target = spark.read.parquet(args.target)
        kw = dict(
            text_col=args.text_col, id_col=args.id_col, dim=args.dim,
            use_bigrams=not args.no_bigrams,
        )
        if args.select_k is not None:
            out = dsir_select(raw, target, k=args.select_k, **kw)
        else:
            out = dsir_log_weights(raw, target, **kw)
        _write(out, args.output, args.outformat)
    elif args.cmd == "semdedup":
        from reflexiv_spark.datapipe.semdedup import semantic_dedup

        out = semantic_dedup(
            spark.read.parquet(args.input),
            threshold=args.threshold,
            dim=args.dim,
            n_centroids=args.n_centroids,
            n_iter=args.n_iter,
            id_col=args.id_col,
            vec_col=args.vec_col,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "text-strip":
        from reflexiv_spark.datapipe.text import strip_markup

        out = strip_markup(
            spark.read.parquet(args.input),
            text_col=args.text_col, id_col=args.id_col,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "text-score":
        from reflexiv_spark.datapipe.text import classifier_score

        out = classifier_score(
            spark.read.parquet(args.input),
            text_col=args.text_col, id_col=args.id_col,
            dim=args.dim, use_bigrams=not args.no_bigrams,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "text-select":
        from reflexiv_spark.datapipe.sampling import token_budget_select

        out = token_budget_select(
            spark.read.parquet(args.input), budget=args.budget,
            group_col=args.group_col, order_col=args.order_col,
            text_col=args.text_col, id_col=args.id_col,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "knn":
        from reflexiv_spark.datapipe.knn import knn_graph

        out = knn_graph(
            spark.read.parquet(args.input),
            k=args.k, dim=args.dim, n_centroids=args.n_centroids,
            id_col=args.id_col, vec_col=args.vec_col,
            max_cell_rows=args.max_cell_rows,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "quantiles":
        from reflexiv_spark.datapipe.quantile import (
            quantile_sketch,
            quantile_values,
        )

        out = quantile_sketch(
            spark.read.parquet(args.input),
            args.value_col, capacity=args.capacity,
        )
        if args.qs:
            out = quantile_values(
                out, [float(x) for x in args.qs.split(",") if x]
            )
        _write(out, args.output, args.outformat)
    elif args.cmd == "ndv":
        from reflexiv_spark.datapipe.sketch import hll_distinct_by

        out = hll_distinct_by(
            spark.read.parquet(args.input),
            args.key_col, args.group_col, p=args.p,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "pq-encode":
        from reflexiv_spark.datapipe.similarity import pq_encode

        out = pq_encode(
            spark.read.parquet(args.input),
            m=args.m, ksub=args.ksub,
            id_col=args.id_col, vec_col=args.vec_col,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "pq-search":
        from reflexiv_spark.datapipe.similarity import pq_topk

        out = pq_topk(
            spark.read.parquet(args.input),
            k=args.k, m=args.m, ksub=args.ksub,
            id_col=args.id_col, vec_col=args.vec_col,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "corpus-report":
        from reflexiv_spark.datapipe.report import corpus_report

        out = corpus_report(
            spark.read.parquet(args.input), text_col=args.text_col,
            id_col=args.id_col, lang_col=args.lang_col,
            source_col=args.source_col,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "url-filter":
        from pyspark.sql import functions as F

        from reflexiv_spark.datapipe.urls import domain_stats, url_filter

        docs = spark.read.parquet(args.input)
        psl = (
            spark.read.parquet(args.psl)
            if args.psl is not None else None
        )
        if args.stats:
            out = domain_stats(docs, url_col=args.url_col,
                               id_col=args.id_col, psl=psl)
        else:
            blocked = (
                spark.read.parquet(args.blocklist)
                if args.blocklist is not None else None
            )
            out = url_filter(docs, blocked, url_col=args.url_col,
                             id_col=args.id_col, psl=psl)
            if args.keep_only:
                out = out.where(F.col("kept")).select(
                    args.id_col, "host", "domain", "ext"
                )
        _write(out, args.output, args.outformat)
    elif args.cmd == "pipeline":
        from reflexiv_spark.datapipe.runner import run_pipeline

        with open(args.spec) as fh:
            spec = fh.read()
        out = run_pipeline(
            spark,
            spark.read.parquet(args.input),
            spec,
            workdir=args.workdir,
            text_col=args.text_col,
            id_col=args.id_col,
            resume=not args.no_resume,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "export-shards":
        from reflexiv_spark.datapipe.shards import write_shards

        docs = spark.read.parquet(args.input)
        manifest = write_shards(
            docs,
            args.output,
            target_tokens=args.target_tokens,
            id_col=args.id_col,
            tokens_col=args.token_col,
            text_col=args.text_col,
            fmt=args.shard_format,
        )
        if args.manifest is not None:
            manifest.write.mode("overwrite").parquet(args.manifest)
    elif args.cmd == "text-mix":
        from reflexiv_spark.datapipe.sampling import temperature_mix

        out = temperature_mix(
            spark.read.parquet(args.input),
            alpha=args.alpha,
            budget_frac=args.budget_frac,
            source_col=args.source_col,
            id_col=args.id_col,
            token_col=args.token_col,
            text_col=args.text_col,
            salt=args.salt,
            hash_family=args.hash_family,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "badwords-filter":
        import re as _re

        from reflexiv_spark.datapipe.badwords import badwords_filter

        # route with the LIBRARY's word rule (ASCII \w only — anything
        # else can never match a token and belongs in phrases), so a
        # tab-separated or punctuated file entry lands where it works
        def _is_word(entry: str) -> bool:
            return bool(_re.fullmatch(r"\w+", entry, _re.ASCII))

        words = [w.strip() for w in (args.words or "").split(",")
                 if w.strip()]
        phrases = [s.strip() for s in (args.phrases or "").split(",")
                   if s.strip()]
        if args.words_file:
            with open(args.words_file) as fh:
                for line in fh:
                    entry = line.strip().lower()
                    if not entry:
                        continue
                    (words if _is_word(entry) else phrases).append(entry)
        if not words and not phrases:
            p.error("badwords-filter needs --words, --phrases, or "
                    "--words-file")
        try:
            out = badwords_filter(
                spark.read.parquet(args.input),
                words=tuple(words),
                phrases=tuple(phrases),
                text_col=args.text_col,
                id_col=args.id_col,
                keep_only=args.keep_only,
            )
        except ValueError as e:
            p.error(str(e))
        _write(out, args.output, args.outformat)
    elif args.cmd == "training-layout":
        from reflexiv_spark.datapipe.export import training_layout

        out = training_layout(
            spark.read.parquet(args.input),
            target_tokens=args.target_tokens,
            alpha=args.alpha,
            budget_frac=args.budget_frac,
            source_col=args.source_col,
            id_col=args.id_col,
            token_col=args.token_col,
            text_col=args.text_col,
            epoch_salt=args.epoch_salt,
            mix_salt=args.mix_salt,
            hash_family=args.hash_family,
            manifest=not args.plan,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "text-shuffle":
        from reflexiv_spark.datapipe.sampling import corpus_shuffle

        out = corpus_shuffle(
            spark.read.parquet(args.input),
            id_col=args.id_col,
            salt=args.salt,
            hash_family=args.hash_family,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "warc-extract":
        from pyspark.sql import functions as F

        from reflexiv_spark.sources.warc import read_warc

        # argument-combination guard (round-13 ADVICE): --wet always
        # filters to 'conversion' records, so --keep-all would be
        # silently ignored — error instead of misleading
        if args.wet and args.keep_all:
            p.error("--keep-all has no effect with --wet (WET files "
                    "hold only 'conversion' records); drop one flag")
        # prune the binary column we don't need at the SOURCE — a
        # mapInArrow source cannot receive Catalyst's column pruning,
        # and the unused payload/http_body would otherwise double the
        # Arrow crossing
        base_cols = ["record_id", "warc_type", "target_uri", "warc_date",
                     "content_type", "http_status"]
        if args.wet:
            # WET: the payload IS the extracted text (no HTTP message)
            recs = read_warc(spark, args.input,
                             split_size=args.split_size,
                             columns=base_cols + ["payload"])
            recs = recs.where(F.col("warc_type") == "conversion")
            text = F.col("payload").cast("string")
        else:
            recs = read_warc(spark, args.input,
                             split_size=args.split_size,
                             columns=base_cols + ["http_body"])
            if not args.keep_all:
                recs = recs.where(
                    (F.col("warc_type") == "response")
                    & (F.col("http_status") == 200)
                )
            text = F.col("http_body").cast("string")
        out = recs.select(
            # deterministic 62-bit id from the (globally unique) WARC
            # record id — stable across re-runs and file orderings.
            # 62 bits ⇒ ~1 expected colliding pair per ~3B records
            # (birthday bound n^2/2^63); record_id rides along so a
            # collision is always recoverable downstream.
            F.pmod(F.xxhash64("record_id"), F.lit(1 << 62)).alias("doc_id"),
            "record_id",
            F.col("target_uri").alias("url"),
            "warc_date",
            "content_type",
            "http_status",
            text.alias("text"),
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "dedup-incremental":
        if (
            args.emit_store is not None
            and args.store is not None
            and __import__("os").path.abspath(args.emit_store)
            == __import__("os").path.abspath(args.store)
        ):
            p.error("--emit-store must not equal --store: the updated "
                    "store is computed lazily FROM the store parquet, "
                    "and overwrite would delete it mid-read — write to "
                    "a new path and rotate")
        from reflexiv_spark.datapipe.incremental import (
            exact_fingerprints,
            incremental_dedup,
        )

        batch = spark.read.parquet(args.input)
        if args.store is not None:
            seen = spark.read.parquet(args.store)
        else:
            seen = spark.createDataFrame([], "fp bigint")
        fresh = incremental_dedup(
            batch, seen, text_col=args.text_col, id_col=args.id_col,
            hash_family=args.hash_family,
        )
        _write(fresh, args.output, args.outformat)
        if args.emit_store is not None:
            updated = seen.unionByName(
                exact_fingerprints(
                    spark.read.parquet(args.output),
                    text_col=args.text_col,
                    hash_family=args.hash_family,
                )
            ).distinct()
            updated.write.mode("overwrite").parquet(args.emit_store)
    elif args.cmd == "winnow-probe":
        if (
            args.emit_store is not None
            and args.store is not None
            and __import__("os").path.abspath(args.emit_store)
            == __import__("os").path.abspath(args.store)
        ):
            p.error("--emit-store must not equal --store: the updated "
                    "store is computed lazily FROM the store parquet, "
                    "and overwrite would delete it mid-read — write to "
                    "a new path and rotate")
        from reflexiv_spark.datapipe.winnow_store import (
            probe_winnow_store,
            update_winnow_store,
            winnow_store,
        )

        batch = spark.read.parquet(args.input)
        if args.store is not None:
            seen = spark.read.parquet(args.store)
        else:
            seen = spark.createDataFrame([], "fp bigint")
        report = probe_winnow_store(
            batch, seen, id_col=args.id_col, text_col=args.text_col,
            k=args.k, window=args.window, min_shared=args.min_shared,
            hash_family=args.hash_family,
        )
        _write(report, args.output, args.outformat)
        if args.emit_store is not None:
            updated = update_winnow_store(
                seen,
                winnow_store(
                    batch, id_col=args.id_col, text_col=args.text_col,
                    k=args.k, window=args.window,
                    hash_family=args.hash_family,
                ),
            )
            updated.write.mode("overwrite").parquet(args.emit_store)
    elif args.cmd == "embedding-probe":
        import numpy as np

        from reflexiv_spark.datapipe.semstore import (
            embedding_store,
            probe_embedding_store,
            update_embedding_store,
        )

        import os as _os

        # pure argument checks FIRST — before any Spark job runs
        if args.build and not args.emit_store:
            p.error("--build needs --emit-store")
        if not args.build and (not args.store or not args.centroids):
            p.error("probing needs --store AND --centroids (the store "
                    "is only meaningful under its quantizer model)")
        if (
            args.emit_store
            and args.store
            and _os.path.abspath(args.emit_store)
            == _os.path.abspath(args.store)
        ):
            p.error("--emit-store must not equal --store: the updated "
                    "store is computed lazily FROM the store parquet, "
                    "and overwrite would delete it mid-read — write to "
                    "a new path and rotate")
        inp = spark.read.parquet(args.input)
        if args.build:
            from reflexiv_spark.datapipe.similarity import kmeans_lite

            _, cmat = kmeans_lite(
                inp, dim=args.dim, n_centroids=args.n_centroids,
                id_col=args.id_col, vec_col=args.vec_col,
            )
            built = embedding_store(
                inp, cmat, dim=args.dim,
                id_col=args.id_col, vec_col=args.vec_col,
            )
            built.write.mode("overwrite").parquet(args.emit_store)
            if args.emit_centroids:
                spark.createDataFrame(
                    [(i, [int(x) for x in row])
                     for i, row in enumerate(cmat)],
                    "cell long, cvec array<bigint>",
                ).write.mode("overwrite").parquet(args.emit_centroids)
            # the build mode's primary output is the store; emit its
            # thin relation as the command output too — READ BACK the
            # just-written parquet instead of re-executing the whole
            # quantize+assign pipeline a second time
            _write(
                spark.read.parquet(args.emit_store),
                args.output,
                args.outformat,
            )
            return 0
        store = spark.read.parquet(args.store)
        crows = sorted(
            spark.read.parquet(args.centroids).collect(),
            key=lambda r: r["cell"],
        )
        cmat = np.array([r["cvec"] for r in crows], dtype=np.int64)
        out = probe_embedding_store(
            inp, store, cmat, threshold=args.threshold, dim=args.dim,
            id_col=args.id_col, vec_col=args.vec_col,
        )
        _write(out, args.output, args.outformat)
        if args.emit_store:
            update_embedding_store(
                store,
                embedding_store(
                    inp, cmat, dim=args.dim,
                    id_col=args.id_col, vec_col=args.vec_col,
                ),
                id_col=args.id_col,
            ).write.mode("overwrite").parquet(args.emit_store)
    elif args.cmd == "bloom-decontam":
        from reflexiv_spark.datapipe.bloom import bloom_decontaminate

        out = bloom_decontaminate(
            spark.read.parquet(args.input),
            spark.read.parquet(args.target),
            text_col=args.text_col, id_col=args.id_col,
            m_bits=args.m_bits, k_hashes=args.k_hashes,
            hash_family=args.hash_family,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "ivfpq-search":
        from reflexiv_spark.datapipe.similarity import ann_ivfpq

        out = ann_ivfpq(
            spark.read.parquet(args.input),
            k=args.k, m=args.m, ksub=args.ksub, dim=args.dim,
            n_centroids=args.n_centroids, n_probes=args.n_probes,
            id_col=args.id_col, vec_col=args.vec_col,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "edit-join":
        from reflexiv_spark.datapipe.editdist import edit_join

        out = edit_join(
            spark.read.parquet(args.input),
            id_col=args.id_col, text_col=args.text_col,
            max_dist=args.max_dist, key_len=args.key_len,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "winnow":
        from reflexiv_spark.datapipe.winnow import (
            remove_shared_spans,
            winnow_fingerprints,
            winnow_overlap,
        )

        # argument-combination guards (round-12 ADVICE): silently
        # dropping a flag the user passed misleads worse than erroring
        if args.ref_path and not args.remove_spans:
            p.error("--ref requires --remove-spans (reference "
                    "fingerprints only drive span excision)")
        if args.max_df is not None and args.remove_spans and args.ref_path:
            p.error("--max-df does not apply to --remove-spans --ref "
                    "(the reference fp probe has no hot-fp cap); drop "
                    "--max-df or use within-corpus --remove-spans")
        if args.remove_spans and args.ref_path:
            from reflexiv_spark.datapipe.winnow import (
                remove_reference_spans,
            )

            out = remove_reference_spans(
                spark.read.parquet(args.input),
                spark.read.parquet(args.ref_path),
                id_col=args.id_col, text_col=args.text_col,
                k=args.k, window=args.window,
                hash_family=args.hash_family,
            )
        elif args.remove_spans:
            out = remove_shared_spans(
                spark.read.parquet(args.input),
                id_col=args.id_col, text_col=args.text_col,
                k=args.k, window=args.window,
                hash_family=args.hash_family, max_df=args.max_df,
            )
        elif args.pairs:
            out = winnow_overlap(
                spark.read.parquet(args.input),
                id_col=args.id_col, text_col=args.text_col,
                k=args.k, window=args.window,
                min_shared=args.min_shared, max_df=args.max_df,
                hash_family=args.hash_family,
            )
        else:
            out = winnow_fingerprints(
                spark.read.parquet(args.input),
                id_col=args.id_col, text_col=args.text_col,
                k=args.k, window=args.window,
                hash_family=args.hash_family,
            )
        _write(out, args.output, args.outformat)
    elif args.cmd == "quality-filter":
        from reflexiv_spark.datapipe.filters import c4_rules, gopher_rules

        inp = spark.read.parquet(args.input)
        if args.ruleset == "gopher":
            out = gopher_rules(
                inp, text_col=args.text_col, id_col=args.id_col,
                min_words=args.min_words,
                min_stop_hits=args.min_stop_hits,
            )
        elif args.ruleset == "fineweb":
            from reflexiv_spark.datapipe.filters import fineweb_rules

            out = fineweb_rules(
                inp, text_col=args.text_col, id_col=args.id_col
            )
        else:
            out = c4_rules(
                inp, text_col=args.text_col, id_col=args.id_col,
                min_line_words=args.min_line_words,
                min_sentences=args.min_sentences,
            )
        if args.keep_only:
            from pyspark.sql import functions as F

            out = out.where(F.col("keep"))
        _write(out, args.output, args.outformat)
    elif args.cmd == "ccnet-buckets":
        from reflexiv_spark.datapipe.ccnet import ccnet_buckets

        out = ccnet_buckets(
            spark.read.parquet(args.input),
            spark.read.parquet(args.ref_path),
            text_col=args.text_col, id_col=args.id_col,
            lang_col=args.lang_col, dim=args.dim,
            hash_family=args.hash_family,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "divergence":
        from reflexiv_spark.datapipe.divergence import (
            corpus_divergence,
            divergence_summary,
        )

        fn = divergence_summary if args.summary else corpus_divergence
        out = fn(
            spark.read.parquet(args.input),
            spark.read.parquet(args.other_path),
            text_col=args.text_col, id_col=args.id_col, dim=args.dim,
            use_bigrams=not args.no_bigrams,
            hash_family=args.hash_family,
        )
        _write(out, args.output, args.outformat)
    elif args.cmd == "semantic-decontam":
        from reflexiv_spark.datapipe.decontam import semantic_decontam

        out = semantic_decontam(
            spark.read.parquet(args.input),
            spark.read.parquet(args.eval_path),
            vec_col=args.vec_col, id_col=args.id_col,
            threshold=args.threshold, dim=args.dim,
        )
        _write(out, args.output, args.outformat)
    return 0


if __name__ == "__main__":
    sys.exit(main())
