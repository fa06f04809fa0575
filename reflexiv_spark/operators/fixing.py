"""Junction fixing — validate and merge contigs across unique fixed-k
junctions (A2/U2, ``04Fixing``/``05FixingAgain`` stages).

Reference: the reduced multi-k set is re-keyed on fixed 31-mers extracted
at contig ends, counted (``groupBy("kmer").count()``,
``ReflexivDSDynamicKmerFixing.java:203-211``), fork-filtered with error
correction, and run through ~18 rounds of the standard sort+merge
extension loop so contigs that share a *unique* junction 31-mer fuse
(``ReflexivDSDynamicKmerFixing.java:191-257``).

Spark-first: junction support is a count over contig ends; uniqueness is
a fork filter (support == 1 at both ends); the merge is the pointer-
doubling walk of :func:`reflexiv_spark.operators.extension.walk` at
contig granularity — log2(longest chain) rounds instead of a fixed 18
sorts — the same walk contig extension runs over k-mers. One body serves
every size: the support is counted by windows over contig ends, so while
the contig set fits the one-task gate it runs in ONE partition with no
Exchange (the walk in one task); above the gate the same plans are
multi-partition and the walk is the shuffle walk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from reflexiv_spark.operators.extension import fits_one_task, stitch_walk, walk
from reflexiv_spark.plans.partitions import count_rows

# Reference fixes junctions with 31-mers regardless of the assembly k.
DEFAULT_FIX_K = 31


def junction_support(
    contigs: DataFrame,
    fix_k: int = DEFAULT_FIX_K,
    seq_col: str = "seq",
) -> DataFrame:
    """A2: support count of each contig-end fix_k-mer.

    DataFrame[kmer, n_starts, n_ends]: how many contigs start (prefix)
    and end (suffix) with this fix_k-mer. A (1, 1) row is a unique
    junction — exactly one upstream and one downstream contig.
    """
    s = F.col(seq_col)
    long_enough = contigs.where(F.length(s) >= fix_k)
    heads = long_enough.select(
        F.substring(s, 1, fix_k).alias("kmer"), F.lit(1).alias("is_start")
    )
    tails = long_enough.select(
        F.substring(s, -fix_k, fix_k).alias("kmer"), F.lit(0).alias("is_start")
    )
    return (
        heads.unionByName(tails)
        .groupBy("kmer")
        .agg(
            F.sum("is_start").cast("bigint").alias("n_starts"),
            F.sum(1 - F.col("is_start")).cast("bigint").alias("n_ends"),
        )
    )


def fix_junctions(
    contigs: DataFrame,
    fix_k: int = DEFAULT_FIX_K,
    seq_col: str = "seq",
    max_rounds: int = 18,
) -> DataFrame:
    """Merge contigs across unique junction fix_k-mers.

    Contig A (ending with kmer j) fuses with contig B (starting with j)
    when j is a unique junction (one such A, one such B) — established
    by filtering both ends to support == 1 (the reference's fork
    filters with error correction play the same role). Under that
    filter every contig has at most ONE junction-successor and ONE
    junction-predecessor, so the fusion graph is a disjoint union of
    simple paths and simple cycles — the fork-free precondition of the
    deterministic pointer-doubling walk, which fuses chains in
    log2(longest chain) rounds. Junction CYCLES (every member
    in/out-degree 1) pass through UNFUSED — the anchored-path semantics
    the meta-ladder oracle's unique-junction walk defines (a walk from
    in-degree-0 anchors never enters a cycle).

    Returns DataFrame[seq] of fixed (possibly fused) contigs.
    """
    src = contigs.select(F.col(seq_col).alias("seq"))
    s = F.col("seq")
    # ONE measuring aggregate for the one-task gate: 64 B per state row
    # plus each contig id twice (kid and its anc pointer), counted before
    # repeats are dropped (an upper bound of the walk's state)
    n, id_bytes = src.where(F.length(s) >= fix_k).agg(
        F.count(F.lit(1)), F.coalesce(F.sum(F.length(s)), F.lit(0))
    ).first()
    one = fits_one_task(64 * n + 2 * id_bytes)
    if one:
        src = src.coalesce(1)  # narrow: the whole fix runs in this one task
    ends = src.where(F.length(s) >= fix_k).select(
        s.alias("kid"),
        F.substring(s, 1, fix_k).alias("__pk"),
        F.substring(s, -fix_k, fix_k).alias("__sk"),
    )
    # a head key stays only where it is a unique junction — the head of
    # exactly one contig and the tail of exactly one — counted over every
    # contig BEFORE repeats are dropped (a repeated contig is no unique
    # junction). Window counts over the head keys (rows with a kid) and
    # the tail keys, not a join: in one partition they plan no Exchange.
    by_key = Window.partitionBy("__key")
    keys = ends.select("kid", "__sk", F.col("__pk").alias("__key")).unionByName(
        ends.select(
            F.lit(None).cast("string").alias("kid"),
            F.lit(None).cast("string").alias("__sk"),
            F.col("__sk").alias("__key"),
        )
    )
    unique = (F.count("kid").over(by_key) == 1) & (
        F.count(F.lit(1)).over(by_key) == 2
    )
    nodes = (
        keys.withColumn("__pk", F.when(unique, F.col("__key")))
        .where(F.col("kid").isNotNull())
        .select("kid", "__pk", "__sk")
        .distinct()  # a repeated contig repeats its keys too
    )
    n_nodes = None
    if not one:
        # the count, then the shuffle walk's pre and suc; the count gives
        # the walk its exact node count (the walk re-verifies it)
        nodes = nodes.localCheckpoint(eager=False)
        n_nodes = count_rows(nodes)
    walked = walk(nodes, n_nodes, max_rounds)
    # one consumer of the walk: a cycle member (never done) is a group of
    # its own, whose stitch is the contig itself
    fused = _stitch(
        walked.groupBy(F.when(F.col("__done"), F.col("anc")).otherwise(F.col("kid"))),
        fix_k,
    )
    return fused.unionByName(src.where(F.length(s) < fix_k)).dropDuplicates()


def _stitch(groups, fix_k: int) -> DataFrame:
    """One fused contig per walk head: its members in offset order, each
    after the first without its leading junction fix_k-mer."""
    parts = groups.agg(
        F.array_sort(F.collect_list(F.struct("off", "kid"))).alias("xs")
    )
    return parts.select(
        stitch_walk(
            F.col("xs"),
            lambda x: x["kid"],
            lambda x: F.substring(x["kid"], fix_k + 1, F.length(x["kid"])),
        ).alias("seq")
    )
