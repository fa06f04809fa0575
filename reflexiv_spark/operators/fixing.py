"""Junction fixing — validate and merge contigs across unique fixed-k
junctions (A2/U2, ``04Fixing``/``05FixingAgain`` stages).

Reference: the reduced multi-k set is re-keyed on fixed 31-mers extracted
at contig ends, counted (``groupBy("kmer").count()``,
``ReflexivDSDynamicKmerFixing.java:203-211``), fork-filtered with error
correction, and run through ~18 rounds of the standard sort+merge
extension loop so contigs that share a *unique* junction 31-mer fuse
(``ReflexivDSDynamicKmerFixing.java:191-257``).

Spark-first: junction support is a hash aggregate; uniqueness is a fork
filter (support == 1 at both ends); the merge is a pointer-doubling walk
at contig granularity — log2(longest chain) rounds instead of a fixed 18
sorts. While the contig set fits the one-task gate, the whole fix runs in
ONE partition with no Exchange: the walk kernel
(:func:`reflexiv_spark.operators.extension.walk_nodes`) counts the
support, drops repeated contigs and walks in one task. Above the gate it
is the shuffle walk of
:func:`reflexiv_spark.operators.extension.walk_paths` over aggregates and
a broadcast junction join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reflexiv_spark.operators.extension import (
    fits_one_task,
    stitch_walk,
    walk_nodes,
    walk_paths,
)
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
    s = F.col(seq_col)
    long_enough = contigs.where(F.length(s) >= fix_k)
    # ONE measuring aggregate for the one-task gate: 64 B per state row
    # plus each contig id twice (kid and its anc pointer), counted before
    # repeats are dropped (an upper bound of the walk's state)
    n, id_bytes = long_enough.agg(
        F.count(F.lit(1)), F.coalesce(F.sum(F.length(s)), F.lit(0))
    ).first()
    if fits_one_task(64 * n + 2 * id_bytes):
        return _fix_one_partition(contigs, fix_k, seq_col, max_rounds)

    support = junction_support(contigs, fix_k, seq_col)
    unique_j = support.where(
        (F.col("n_starts") == 1) & (F.col("n_ends") == 1)
    ).select(F.col("kmer").alias("__pk"))

    cs = (
        long_enough.select(s.alias("kid"))
        .dropDuplicates(["kid"])
        .localCheckpoint(eager=False)  # the count, pre, suc and rest
    )
    # with AQE the lazy checkpoint's call already ran the dedup's shuffle
    # stage; the count runs the last stage into the blocks and gives the
    # walk its exact node count (state rows == cs rows by the suc filter
    # below; the walk re-verifies it)
    n_cs = count_rows(cs)
    # pre: EVERY contig, keyed by its head fix_k-mer (so every contig
    # appears in the pointer state exactly once); suc: only tails that
    # are unique junctions — a unique key is the tail of exactly one
    # contig, so the left join below matches at most one predecessor.
    pre = cs.select("kid", F.substring("kid", 1, fix_k).alias("__pk"))
    suc = (
        cs.select(
            F.col("kid").alias("__pred"),
            F.substring("kid", -fix_k, fix_k).alias("__pk"),
        )
        .join(F.broadcast(unique_j), "__pk")
    )
    done, rest = walk_paths(pre, suc, n_cs, max_rounds)
    # cycle members never reach a head — they pass through unfused
    fused = _stitch(done.groupBy("anc"), fix_k).unionByName(
        rest.select(F.col("kid").alias("seq"))
    )
    short = contigs.where(F.length(s) < fix_k).select(s.alias("seq"))
    return fused.unionByName(short).dropDuplicates()


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


def _fix_one_partition(
    contigs: DataFrame, fix_k: int, seq_col: str, max_rounds: int
) -> DataFrame:
    """:func:`fix_junctions` in one partition: junction support, the
    repeat drop, the walk and the stitch run in one task with no
    Exchange (the walk kernel counts the support, :func:`_junction_ends`)."""
    one = contigs.select(F.col(seq_col).alias("seq")).coalesce(1)
    s = F.col("seq")
    nodes = one.where(F.length(s) >= fix_k).select(
        s.alias("kid"),
        F.substring(s, 1, fix_k).alias("__pk"),
        F.substring(s, -fix_k, fix_k).alias("__sk"),
    )
    walked = walk_nodes(nodes, max_rounds, prepare=_junction_ends)
    # one consumer of the walk: a cycle member (never done) is a group of
    # its own, whose stitch is the contig itself
    fused = _stitch(
        walked.groupBy(F.when(F.col("__done"), F.col("anc")).otherwise(F.col("kid"))),
        fix_k,
    )
    short = one.where(F.length(s) < fix_k)
    return fused.unionByName(short).dropDuplicates()


def _junction_ends(t):
    """Arrow node table (kid, __pk, __sk) → the same with a head key kept
    only where it is a unique junction — the head of exactly one row and
    the tail of exactly one row, counted over every row BEFORE repeated
    contigs are dropped (a repeated contig is no unique junction) — and
    with each contig once."""
    import pandas as pd
    import pyarrow as pa

    heads = pd.Series(t.column("__pk").to_numpy())
    tails = pd.Series(t.column("__sk").to_numpy())
    unique = (heads.map(heads.value_counts()) == 1) & (
        heads.map(tails.value_counts()) == 1
    )
    t = t.set_column(
        t.schema.get_field_index("__pk"),
        "__pk",
        pa.array(heads.where(unique, None), type=t.schema.field("__pk").type),
    )
    first = ~pd.Series(t.column("kid").to_numpy()).duplicated().to_numpy()
    return t.filter(pa.array(first))
