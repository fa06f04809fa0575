"""Single-k end-to-end assembly — ``reflexiv run`` re-expressed
(SURVEY.md §3.2, ``ReflexivDSMain.java:188-356``).

Stages:
1. canonical k-mer counting (counter.count_kmers — A1, F1/F2)
2. reverse-complement expansion: each canonical k-mer re-emitted in both
   orientations (``DSKmerReverseComplement``, ``ReflexivDSMain.java:222``)
3. fork/bubble pruning on forward and reflected sub-k-mers (W1/W2)
4. contraction by deterministic pointer doubling (W3/I1/I2 —
   operators.extension.rank_paths); ``algorithm="contract"`` keeps one
   contig per circular ring, ``"rank"`` only the anchored paths
5. contig canonicalization + min-length filter (F5) + dedup of the
   strand-duplicate contigs (both orientations were assembled)

Stages 2-4 are each written once over a k-mer codec
(:mod:`reflexiv_spark.operators._codec`): ASCII strings, 2-bit packed
longs (k ≤ 31) or long-block arrays (k > 31). The
``*_packed`` / ``*_blocks`` names are that kernel's entry points over
already-packed ids, and the pipelines reach every stage by its public
name at call time.

Output contig IDs are deterministic (dense_rank over (length desc, seq)) —
the reference's ``zipWithIndex`` IDs are partition-order-dependent
(FIXTURES.md §6).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reflexiv_spark.functions.kmer import canonical_kmer
from reflexiv_spark.operators import extension
from reflexiv_spark.operators._codec import (
    BLOCKS,
    PACKED,
    STRING,
    KmerCodec,
    codec_for,
)
from reflexiv_spark.operators.counter import (
    DEFAULT_MAX_COVERAGE,
    DEFAULT_MIN_COVERAGE,
)
from reflexiv_spark.operators.fork import filter_forks
from reflexiv_spark.plans.partitions import count_rows

# Reference default minimum contig length: DefaultParam.java:108.
DEFAULT_MIN_CONTIG = 500


def _palindrome_free(k: int | None, input_canonical: bool) -> bool:
    """True when the RC-expanded union provably has no duplicate k-mers,
    so the palindrome ``dropDuplicates`` — a full exchange of the doubled
    k-mer set — can be skipped (guide §2.4: a distinct on already-unique
    data).

    Proof obligation: the input rows are DISTINCT CANONICAL k-mers (the
    ``count_kmers*`` contract — each group key satisfies x <= RC(x)) and
    k is ODD. A duplicate in fwd ∪ RC(fwd) requires x = RC(y) with both
    x, y canonical, which forces x = y = RC(x) — a palindrome — and an
    odd-length k-mer cannot be its own reverse complement (its middle
    base would have to equal its own complement). Even k keeps the
    dedup: palindromes are real there.
    """
    return input_canonical and k is not None and k % 2 == 1


def _expand(
    codec: KmerCodec, counts: DataFrame, k: int | None, input_canonical: bool
) -> DataFrame:
    c = codec.col
    rc = counts.select(codec.revcomp(c, k).alias(c), F.col("count"))
    both = counts.unionByName(rc)
    if _palindrome_free(k, input_canonical):
        return both
    # A palindromic k-mer equals its RC — dropDuplicates keeps one copy.
    return both.dropDuplicates([c])


def expand_orientations(
    kmer_counts: DataFrame,
    k: int | None = None,
    input_canonical: bool = False,
) -> DataFrame:
    """Canonical counts → both orientations (step 2).

    Pass ``k`` and ``input_canonical=True`` when the input is the output
    of ``count_kmers`` (distinct canonical k-mers): for odd k the
    palindrome dedup is then provably a no-op and its exchange is
    elided (:func:`_palindrome_free`). Output rows are identical either
    way.
    """
    return _expand(STRING, kmer_counts, k, input_canonical)


def expand_orientations_packed(
    packed_counts: DataFrame, k: int, input_canonical: bool = False
) -> DataFrame:
    """Step 2 over 2-bit packed bigint ids (DataFrame[kid, count]) — the
    RC is ~12 codegen'd integer ops instead of a string
    reverse+translate, and the palindrome dedup shuffles 8-byte longs."""
    return _expand(PACKED, packed_counts, k, input_canonical)


def expand_orientations_blocks(
    block_counts: DataFrame, k: int, input_canonical: bool = False
) -> DataFrame:
    """Step 2 over long-block k-mer ids (DataFrame[kid: array<long>,
    count], k > 31) — the RC is plan-time shift/mask expressions and the
    palindrome dedup shuffles ⌈k/31⌉ longs per row."""
    return _expand(BLOCKS, block_counts, k, input_canonical)


def _prune(
    codec: KmerCodec, kmers: DataFrame, k: int, min_error_coverage: int | None
) -> DataFrame:
    c = codec.col
    pruned = kmers.withColumn(
        "fwd_key", codec.prefix_key(c, k, k - 1)
    ).withColumn("refl_key", codec.suffix_key(c, k, k - 1))
    for key in ("fwd_key", "refl_key"):
        pruned = filter_forks(
            pruned, key, cover_col="count", tie_cols=(c,),
            min_winner_cover=min_error_coverage,
        )
    return pruned.drop("fwd_key", "refl_key")


def prune_forks(
    kmers: DataFrame, k: int, min_error_coverage: int | None = None
) -> DataFrame:
    """W1+W2: keep the max-coverage k-mer per forward sub-k-mer, then per
    reflected sub-k-mer — removes graph branches so contraction groups are
    1:1 (``ReflexivDSMain.java:232-253``).

    ``min_error_coverage`` is the reference's error-branch gate (default
    4× min coverage, ``DefaultParam.java:106``): a k-mer that *wins* a fork
    but has coverage below it is discarded as a likely sequencing-error
    branch; unforked k-mers are unaffected.
    """
    return _prune(STRING, kmers, k, min_error_coverage)


def prune_forks_packed(
    packed: DataFrame, k: int, min_error_coverage: int | None = None
) -> DataFrame:
    """W1+W2 over packed ids: the forward sub-k-mer is ``kid >> 2`` and
    the reflected one ``kid & (4^(k-1)-1)`` — both window shuffles carry
    (long, long, int) rows. Tie-breaks on ``kid`` equal the string path's
    ``kmer`` ties (the 2-bit code is order-isomorphic to A<C<G<T)."""
    return _prune(PACKED, packed, k, min_error_coverage)


def prune_forks_blocks(
    blocks: DataFrame, k: int, min_error_coverage: int | None = None
) -> DataFrame:
    """W1+W2 over long-block ids: sub-k-mer keys are rechunked block
    arrays; tie-breaks on ``kid`` equal the string path's ``kmer`` ties
    because array order is digit-lexicographic for fixed k."""
    return _prune(BLOCKS, blocks, k, min_error_coverage)


def _assemble_ranked(
    codec: KmerCodec,
    counts: DataFrame,
    k: int,
    min_contig: int,
    max_iterations: int,
    min_error_coverage: int | None,
    input_canonical: bool,
    algorithm: str,
) -> DataFrame:
    """Counts keyed by ``codec`` ids → expand → prune → rank → contigs,
    each stage through its public per-codec name (looked up at call
    time)."""
    here = sys.modules[__name__]
    expanded = codec.public(here, "expand_orientations{}")(
        counts, k, input_canonical=input_canonical
    )
    pruned = codec.public(here, "prune_forks{}")(
        expanded, k, min_error_coverage=min_error_coverage
    )
    contracted = codec.public(extension, "rank_paths{}")(
        pruned.select(codec.col, "count"), k, max_rounds=max_iterations,
        algorithm=algorithm,
    )
    return _finalize_contigs(contracted, min_contig)


def assemble_from_counts(
    kmer_counts: DataFrame,
    k: int,
    min_contig: int = DEFAULT_MIN_CONTIG,
    max_iterations: int = 150,
    min_error_coverage: int | None = None,
    algorithm: str = "contract",
    input_canonical: bool = False,
) -> DataFrame:
    """kmer counts → DataFrame[contig_id, seq, left_cover, right_cover].

    ``input_canonical=True`` asserts the counts are distinct canonical
    k-mers (the ``count_kmers`` contract); for odd k the RC expansion
    then skips its palindrome-dedup exchange (:func:`_palindrome_free`).

    Both algorithms run the pointer-doubling kernel
    (:func:`reflexiv_spark.operators.extension.rank_paths`, which packs
    pure-ACGT k-mers itself): per-round shuffle of fixed-width ids,
    deterministic log-rounds. ``algorithm="contract"`` (default) keeps
    one contig per circular genome or plasmid, a fixed rotation of it,
    like the reference emits a ring; ``algorithm="rank"`` drops pure
    cycles (anchored-paths semantics, identical to the SQL-oracle
    definition). Both give the same contigs on a cycle-free graph.
    """
    return _assemble_ranked(
        STRING, kmer_counts, k, min_contig, max_iterations,
        min_error_coverage, input_canonical, algorithm,
    )


def _finalize_contigs(contracted: DataFrame, min_contig: int) -> DataFrame:
    contigs = (
        contracted.where(F.length("seq") >= min_contig)
        # Both strands were assembled; canonicalize and keep one.
        .withColumn("seq", canonical_kmer("seq"))
        .groupBy("seq")
        .agg(
            F.max("left_cover").alias("left_cover"),
            F.max("right_cover").alias("right_cover"),
        )
    )
    # Deterministic, shuffle-free IDs: derived from the sequence itself
    # (length + 64-bit content hash), so no global rank window — a
    # metagenome's 10^7+ contigs never funnel through one partition, and
    # the same contig gets the same ID on every run/cluster layout.
    return contigs.select(
        F.concat(
            F.lit("Contig-"),
            F.length("seq"),
            F.lit("-"),
            F.lower(F.hex(F.xxhash64("seq"))),
        ).alias("contig_id"),
        "seq",
        "left_cover",
        "right_cover",
    )


def _id_barrier(codec: KmerCodec, counts: DataFrame, k: int) -> DataFrame:
    """The packed pipelines' counted ids, checkpointed and measured.

    Under the one-task gate (both strands of every k-mer: twice the
    counted rows) the ids move to one partition: ``coalesce(1)`` is
    narrow, a union of single-partition sides stays single-partition,
    and a single partition satisfies every clustered distribution, so
    expansion, both prune windows, the walk and the final aggregates plan
    with no Exchange — the rung is one job. Joins are kept out of that
    path: a join of two single-partition sides plans no shuffle only
    while both size estimates are at most
    ``spark.sql.maxSinglePartitionBytes``. Above the gate the plans are
    the multi-partition ones.
    """
    # the RC expansion consumes the counts twice (forward + reflected
    # branch); without the barrier the Arrow-batched encode would rely on
    # exchange reuse to run once. The count materializes it: the
    # localCheckpoint call itself already ran every shuffle stage below
    # it, the count runs the last stage into the blocks.
    ids = counts.select("kid", "count").localCheckpoint(eager=False)
    if extension.fits_one_task(2 * count_rows(ids) * codec.row_bytes(k)):
        return ids.coalesce(1)
    return ids


def assemble_from_packed_counts(
    packed_counts: DataFrame,
    k: int,
    min_contig: int = DEFAULT_MIN_CONTIG,
    max_iterations: int = 150,
    min_error_coverage: int | None = None,
    input_canonical: bool = False,
    algorithm: str = "rank",
) -> DataFrame:
    """The fully-packed pipeline: DataFrame[kid: bigint, count] (from
    ``count_kmers_packed(decode=False)``) → contigs, with every shuffle
    from counting through the contraction loop carrying 2-bit bigint ids —
    no k-mer strings anywhere until the one decode at final path assembly.
    ``algorithm`` as in :func:`assemble_from_counts`, but defaulting to
    the anchored-path ``"rank"`` its callers were written against;
    identical output to the string pipeline (tests/test_extension.py
    proves equality)."""
    return _assemble_ranked(
        PACKED, _id_barrier(PACKED, packed_counts, k), k, min_contig, max_iterations,
        min_error_coverage, input_canonical, algorithm,
    )


def assemble_from_blocks_counts(
    block_counts: DataFrame,
    k: int,
    min_contig: int = DEFAULT_MIN_CONTIG,
    max_iterations: int = 150,
    min_error_coverage: int | None = None,
    input_canonical: bool = False,
    algorithm: str = "rank",
) -> DataFrame:
    """The fully-packed pipeline for k > 31: DataFrame[kid: array<long>,
    count] (from ``count_kmers_blocks(decode=False)``) → contigs, every
    shuffle from counting through the contraction loop carrying
    long-block ids — the k>31 sibling of
    :func:`assemble_from_packed_counts`, with the same ``algorithm``."""
    return _assemble_ranked(
        BLOCKS, _id_barrier(BLOCKS, block_counts, k), k, min_contig, max_iterations,
        min_error_coverage, input_canonical, algorithm,
    )


def assemble(
    reads: DataFrame,
    k: int = 31,
    min_coverage: int = DEFAULT_MIN_COVERAGE,
    max_coverage: int = DEFAULT_MAX_COVERAGE,
    min_contig: int = DEFAULT_MIN_CONTIG,
    seq_col: str = "seq",
    max_iterations: int = 150,
    min_error_coverage: int | None = None,
    packed: bool = False,
    algorithm: str = "contract",
) -> DataFrame:
    """reads[seq] → contigs — the full ``reflexiv run`` equivalent.

    ``min_error_coverage`` defaults to 4× ``min_coverage`` like the
    reference (``DefaultParam.java:106``); pass 0/None semantics via an
    explicit value to disable. ``packed`` picks the k-mer codec: ASCII
    strings by default, 2-bit ids with ``packed=True`` (scalar int64 for
    k ≤ 31, long-block ``array<long>`` above — identical counts either
    way). Packed ids flow straight through expansion, pruning, and the
    contraction loop with no string decode until final assembly
    (:func:`assemble_from_packed_counts` /
    :func:`assemble_from_blocks_counts`), for either ``algorithm`` (see
    :func:`assemble_from_counts`).
    """
    if min_error_coverage is None:
        min_error_coverage = 4 * min_coverage
    codec = codec_for(k, packed)
    counts = codec.count(
        reads, k, seq_col=seq_col, min_coverage=min_coverage,
        max_coverage=max_coverage,
    )
    kernel = codec.public(sys.modules[__name__], "assemble_from{}_counts")
    return kernel(
        counts, k, min_contig=min_contig, max_iterations=max_iterations,
        min_error_coverage=min_error_coverage, input_canonical=True,
        algorithm=algorithm,
    )
