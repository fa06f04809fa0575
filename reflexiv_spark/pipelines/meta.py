"""Multi-k staged metagenome assembly — ``reflexiv meta`` re-expressed
(SURVEY.md §3.3).

Reference flow (``Pipelines.java:840-1290``): count/sort/reduce ladder
over klist 23…95, then staged extension (00firstFour → 01Iteration* →
04Fixing → 05FixingAgain → … → /Assembly dedup), every stage its own
SparkSession materializing gzip CSV with ``_SUCCESS`` resume.

Spark-first re-expression: the multi-k ladder becomes *iterative
re-assembly* — assemble at the smallest k, then feed the contigs (as
high-confidence pseudo-reads) together with the original reads into the
next k. Longer k resolves repeats the short k collapsed; the contigs
carry connectivity across the coverage gaps longer k-mers would open.
This is the standard multi-k idea (the reference's reduction ladder is
its storage-optimized equivalent) expressed with the operators this
engine already has: counter → prune → contract → fix → dedup. Stages
materialize through :func:`reflexiv_spark.plans.stages.stage` Parquet
barriers with the same ``_SUCCESS`` resume semantics, inside one
long-lived session.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reflexiv_spark.operators._codec import KmerCodec, codec_for
from reflexiv_spark.operators.dedup import dedup_contigs
from reflexiv_spark.operators.fixing import fix_junctions

# every rung's kernel is looked up by name in this module's namespace at
# call time (KmerCodec.public), so patches on these aliases apply
from reflexiv_spark.pipelines.assemble import (  # noqa: F401
    assemble_from_blocks_counts,
    assemble_from_counts,
    assemble_from_packed_counts,
)

DEFAULT_META_KLIST = (23, 31, 41)


def _combined_counts(
    codec: KmerCodec,
    reads: DataFrame,
    contigs: DataFrame | None,
    k: int,
    min_coverage: int,
    max_coverage: int,
    seq_col: str,
) -> DataFrame:
    """Read k-mer counts keyed by ``codec`` ids, boosted by previous-round
    contig k-mers.

    Contig k-mers get weight ``min_coverage`` so connectivity already
    proven at the previous k survives this round's coverage floor even
    where raw read coverage is thin (the role the reference's reduction
    ladder plays for shorter-k k-mers). With a packed codec the k=41..95
    ladder rounds shuffle 2-bit blocks instead of ASCII k-mers (~2
    bits/base vs ~4 B/base), and the contig-boost union and coverage
    floors run on the packed keys directly."""
    c = codec.col
    read_counts = codec.count(
        reads, k, seq_col=seq_col, min_coverage=1, max_coverage=None
    )
    if contigs is None:
        combined = read_counts
    else:
        contig_kmers = codec.count(
            contigs, k, seq_col="seq", min_coverage=1, max_coverage=None
        ).select(c, F.lit(min_coverage).cast("long").alias("count"))
        combined = (
            read_counts.unionByName(contig_kmers)
            .groupBy(c)
            .agg(F.sum("count").alias("count"))
        )
    out = combined.where(F.col("count") >= min_coverage)
    if max_coverage is not None:
        out = out.where(F.col("count") <= max_coverage)
    return out


def meta_assemble(
    reads: DataFrame,
    klist: tuple[int, ...] = DEFAULT_META_KLIST,
    min_coverage: int = 2,
    max_coverage: int = 10_000_000,
    min_contig: int = 500,
    seq_col: str = "seq",
    fix_k: int | None = None,
    workdir: str | None = None,
    spark: SparkSession | None = None,
    resume: bool = True,
    algorithm: str = "contract",
    packed: bool = False,
) -> DataFrame:
    """reads[seq] → deduplicated contigs via the multi-k ladder.

    With ``workdir`` set, each per-k round materializes at
    ``workdir/round_k<k>`` (Parquet + ``_SUCCESS``) and completed rounds
    are skipped on re-run — the reference's staged-resume behavior (I4).
    ``algorithm`` picks the cycle rule of every round's pointer-doubling
    contraction (``"contract"`` keeps one contig per circular ring,
    ``"rank"`` anchored paths only — identical contigs on cycle-free
    graphs; see :func:`~reflexiv_spark.pipelines.assemble.assemble_from_counts`).
    ``packed=True`` carries 2-bit packed ids through every round — scalar
    int64 for k ≤ 31, long-block ``array<long>`` for the k=41..95 rounds —
    identical contigs, ~2-4× smaller count and contraction shuffles.
    """
    if workdir is not None and spark is None:
        spark = reads.sparkSession

    # Share ONE materialization of the read set across the k-ladder
    # (guide §6/§2.4; VERDICT r13 next-round #2): every rung re-counts
    # k-mers over the SAME reads, and without a barrier each rung's
    # counting job re-runs the full upstream (source scan + windowing/
    # explode + validation) from scratch. The checkpoint is lazy: with
    # AQE the call itself runs any shuffle stage below it (a read has
    # none), and rung 1's counting job runs the last stage into the
    # blocks every later rung reads. Projected to the one column the ladder
    # consumes before it is pinned (§2.3 — the checkpoint holds seq
    # bytes only). MEMORY_AND_DISK blocks spill gracefully at scale.
    if len(set(klist)) > 1:
        reads = reads.select(seq_col).localCheckpoint(eager=False)

    contigs: DataFrame | None = None
    for k in sorted(klist):
        def build(k: int = k, prev: DataFrame | None = contigs) -> DataFrame:
            # keep every path ≥ k+1 between rounds; the caller's
            # min_contig applies only to the final output
            codec = codec_for(k, packed)
            counts = _combined_counts(
                codec, reads, prev, k, min_coverage, max_coverage, seq_col
            )
            kernel = codec.public(sys.modules[__name__], "assemble_from{}_counts")
            # _combined_counts ends in a canonical-keyed groupBy, so the
            # odd-k palindrome-dedup elision applies (OPTIMIZATION_r13 #10)
            return kernel(
                counts,
                k,
                min_contig=k + 1,
                min_error_coverage=4 * min_coverage,
                input_canonical=True,
                algorithm=algorithm,
            ).select("contig_id", "seq")

        if workdir is not None:
            from reflexiv_spark.plans.stages import stage

            contigs = stage(spark, f"round_k{k}", workdir, build, resume=resume)
        else:
            from reflexiv_spark.plans.barriers import iteration_barrier

            # lazy: with AQE the call runs every shuffle stage of the
            # rung (none after the counts when it ran in one partition),
            # and the next rung's counting job (or junction fixing's
            # measuring scan after the last rung) runs its last stage —
            # no eager-checkpoint job of its own per rung (guide §1.2:
            # job floors dominate the ladder's wall)
            contigs = iteration_barrier(build(), eager=False)

    fixed = fix_junctions(
        contigs.select("seq"), fix_k=fix_k or (sorted(klist)[-1] - 1)
    )
    # md5-based ids (not xxhash64): equally deterministic and shuffle-free,
    # but replayable by the ANSI-SQL oracle, which must follow the dedup
    # stage's equal-length id tie-breaks. Per-contig cost, not per-k-mer.
    with_ids = fixed.select(
        F.concat(
            F.lit("Contig-"),
            F.length("seq"),
            F.lit("-"),
            F.md5("seq"),
        ).alias("contig_id"),
        "seq",
    )
    deduped = dedup_contigs(with_ids, seq_col="seq", id_col="contig_id")
    return deduped.where(F.length("seq") >= min_contig)
