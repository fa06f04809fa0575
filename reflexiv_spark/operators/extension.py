"""Reflexible Distributed K-mer (RDK) contig extension — the heart of the
reference (SURVEY.md §2.5 W3, §2.9 I1/I2).

Reference algorithm (``DSExtendReflexivKmer``,
``ReflexivDSDynamicKmerFirstFour.java:807-2373``;
``ReflexivDSDynamicKmerIteration.java:465-1249``): each sequence row carries
a "reflexiv marker" (1 = keyed by its leading (k-1)-mer, 2 = keyed by its
trailing (k-1)-mer). Per iteration the reference globally SORTS all rows by
the sub-k-mer and scans partitions pairing marker-2 rows with marker-1 rows
that share the key, concatenating them; markers are re-randomized (a
deterministic 1↔2 alternation — ``ReflexivDSDynamicKmerFirstFour.java:
814-815,1056-1058``) so every adjacent pair has ≥1/4 probability of
contracting per round → expected O(log n) rounds (randomized list ranking).

Spark-first re-expression — DETERMINISTIC list ranking (pointer doubling,
:func:`rank_paths`): rows are the fixed-width k-mer ids themselves, each
carrying a pointer toward its path head and an offset from it; per round
every pointer jumps to its target's pointer. Rounds are ceil(log2(longest
path)), every round moves fixed-width rows however long the contigs grow,
and sequences are assembled exactly once at the end.

PRECONDITION: the input graph is fork-free — every (k-1)-mer has in/out
degree ≤ 1 (run :func:`reflexiv_spark.pipelines.assemble.prune_forks`
first, the reference's W1/W2 stage). The walk checks it: a fork fans the
pointer state out and raises.

Cycles (circular genomes, plasmids) have no head. ``algorithm="rank"``
drops them — the anchored-path semantics the recursive-CTE oracles
define. ``algorithm="contract"`` keeps ONE contig per ring, like the
reference: the walk labels every unresolved row with its cycle; of a
ring's two strands (each other's reverse complement) only the one holding
the smallest id of either survives, and it is cut just before that id and
walked again as a path (:func:`_walk_cycles`).

Scale notes (100 TB): above the one-task gate ``_LOOP_BCAST_BYTES`` every
round is one shuffle join of (id, pointer, offset) rows
(:func:`walk_paths`), with a ``localCheckpoint`` and one scalar probe
every three rounds — replacing the reference's per-step SparkSession
restarts + gzip-CSV barriers (``Pipelines.java:832-839``). A measured
state under the gate is walked whole inside one executor task
(:func:`walk_nodes`), where per-job cost, not data, would set the wall:
the node rows go in, each with its head and tail key, and come out with
their pointer and offset — no init join, no decode join, no proxy ids.
The packed pipelines' rungs and junction fixing go one step further
under the gate and run in ONE partition from their measured input on,
so no Exchange is planned between it and the result
(``pipelines.assemble._id_barrier``, ``operators.fixing``).

The walk is ONE kernel over a k-mer codec
(:mod:`reflexiv_spark.operators._codec`): ASCII strings, 2-bit packed
longs (k ≤ 31) or long-block arrays (k > 31). The codec supplies the id
column, the prefix/suffix join keys, the reverse complement and the tail
decode; ``rank_paths_packed`` / ``rank_paths_blocks`` are its entry
points over already-packed ids, and ``rank_paths`` picks the packed codec
itself when its input is fixed-length pure ACGT. Both walks
(:func:`walk_nodes`, :func:`walk_paths`) and the final concatenation
(:func:`stitch_walk`) are shared with junction fixing, which walks
contigs instead of k-mers.
"""

from __future__ import annotations

import functools
import math
import sys

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from reflexiv_spark.operators._codec import (
    BLOCKS,
    PACKED,
    STRING,
    KmerCodec,
    codec_for,
)
from reflexiv_spark.plans.barriers import iteration_barrier
from reflexiv_spark.plans.partitions import count_rows, in_one_partition

# Rounds per barrier + convergence probe in the shuffle walk.
_BARRIER_EVERY = 3

# One-task gate: when the MEASURED state size (an exact row count × a
# conservative per-row estimate) fits under this many bytes,
# :func:`walk_nodes` walks the whole state in numpy inside ONE executor
# task — one job instead of a shuffle-join job per round plus a probe job
# every ``_BARRIER_EVERY`` rounds — and a packed rung (both strands of its
# counted k-mers) or a junction fix runs in ONE partition with no
# Exchange. The gate is driven by a measured count, not an estimate
# (reset_stats deliberately discards the compounding size stats), and it
# is scale-adaptive: a 100 TB run's billions of rows exceed it and take
# the shuffle plans. 64 MB is ~1M scalar-id walk rows, far inside one
# task's memory ("a few hundred MB is usually fine", far from the 8 GB
# hard cap). Measured on a 4-vCPU host, local[4], 4 shuffle partitions,
# warm, noop sink:
# * the walk alone, one task vs shuffle (3 interleaved runs per arm in
#   one session, before rungs ran in one partition):
#   rank_paths_packed over 1M k-mers 3.6-5.1 s vs 14.3-17.4 s,
#   rank_paths_blocks (k=41) 5.5-6.0 s vs 19.1-22.0 s;
# * whole rungs, one partition vs the previous plans (multi-partition
#   expand/prune/stitch around a one-task walk; separate processes per
#   arm, 3 interleaved pairs, second warm run of each):
#   assemble_from_packed_counts at 1/4 of the gate (131,072 canonical
#   k-mers) 2.5-3.0 s vs 3.0-3.2 s, at the gate (524,288) 7.2-7.9 s vs
#   6.9-9.0 s; assemble_from_blocks_counts (k=41, 80 B rows) at 1/4
#   (104,857) 2.6-3.9 s vs 3.7-3.8 s, at the gate (419,430) 10.3-12.1 s
#   vs 8.3-8.8 s — one task sorts the prune windows' array keys and
#   decodes every block alone;
# * one partition vs the shuffle plans of the same code, gate forced
#   open vs shut (tools/perf.py ab, one process per run, 3 interleaved
#   pairs): packed rung at the gate (524,288) 9.2-9.5 s vs 20.5-27.8 s,
#   blocks rung at the gate (419,430) 10.7-12.5 s vs 23.4-25.2 s,
#   fix_junctions over 60k 500-base contigs 3.5-3.7 s vs 11.3-13.0 s.
# The blocks rung loses at the top, but a lower gate would send the same
# states to the shuffle plans, slower still, so the gate stays here.
_LOOP_BCAST_BYTES = 64 * 1024 * 1024

def rank_paths(
    kmer_counts: DataFrame,
    k: int,
    max_rounds: int = 40,
    packed: bool = True,
    algorithm: str = "rank",
) -> DataFrame:
    """Pointer-doubling (list-ranking) contraction of fork-free k-mer
    counts DataFrame[kmer, count] → DataFrame[seq, left_cover,
    right_cover].

    Rows are the fixed-width k-mers themselves: each k-mer carries an
    ancestor pointer (toward its path head) and an offset, and per round
    the pointer jumps to its ancestor's ancestor (classic pointer doubling
    / list ranking) — per-round exchange is O(rows × ~40 B) regardless of
    how long paths grow, rounds are ceil(log2(longest path))
    DETERMINISTICALLY, and sequences are assembled exactly once at the end
    (one groupBy over (head, offset, k-mer)).

    PRECONDITION: fork-free graph (run prune_forks first). With
    ``algorithm="rank"`` the output is exactly the ANCHORED maximal paths
    (each starting at an in-degree-0 (k-1)-mer); pure cycles have no head
    and are dropped — the order-free semantics the recursive-CTE oracles
    define. ``algorithm="contract"`` adds one contig per kept cycle: of a
    cycle and its reverse-complement twin, the one whose smallest id is
    also the smallest canonical id over its members, cut just before that
    id (a self-loop is a 1-cycle; a cycle that is its own reverse
    complement is kept once). Ids order like their k-mer strings on every
    codec, so the rotation is codec-independent.

    Scale note: final assembly holds one path's (offset, k-mer) structs in
    a single aggregation buffer — the whole contig in one row, as in the
    reference's final contraction row.

    Shuffle representation: over pure-ACGT fixed-length k-mers (the
    common case after ``explode_kmers``' drop_invalid), ``packed`` swaps
    the per-round pointer columns from ASCII k-mer strings to the
    reference's 2-bit encoding (``ReflexivDataFrameCounter.java:513-525``):
    one int64 per k-mer for k ≤ 31 (:func:`rank_paths_packed`), long
    blocks above (:func:`rank_paths_blocks`). Each round then exchanges
    three longs per row (~24 B payload) instead of two k-byte strings, the
    prefix/suffix join keys are shift/mask ops, and strings are decoded
    exactly once at final assembly. Any other input falls back to the
    string kernel; ``packed=False`` forces it.
    """
    keep = _keeps_cycles(algorithm)
    km = _loop_input(kmer_counts, "kmer")
    # the barrier sits BEFORE the packed guard so the guard's scan and
    # every later consumer (packed projection, or the string path's
    # walk) read it, not the upstream lineage. Packed sub-k-mer keys need
    # a non-empty overlap.
    packed = packed and k >= 2
    if packed:
        # The packed id is injective only for fixed-length pure-ACGT rows;
        # one short-circuit scan guards the fallback (limit(1) stops at the
        # first offending row).
        bad = (
            km.where((F.length("kmer") != k) | F.col("kmer").rlike("[^ACGT]"))
            .limit(1)
            .count()
        )
        packed = bad == 0
    if not packed:
        return _rank(STRING, km, k, max_rounds, keep)
    codec = codec_for(k, packed=True)
    return codec.public(sys.modules[__name__], "rank_paths{}")(
        km.select(codec.encode("kmer", k).alias("kid"), "count"),
        k,
        max_rounds=max_rounds,
        algorithm=algorithm,
    )


def rank_paths_packed(
    packed_counts: DataFrame, k: int, max_rounds: int = 40, algorithm: str = "rank"
) -> DataFrame:
    """:func:`rank_paths` over ALREADY-PACKED 2-bit bigint k-mer ids —
    DataFrame[kid: bigint, count] as produced by
    :func:`reflexiv_spark.operators.counter_packed.count_kmers_packed`
    with ``decode=False``. End-to-end string-free: this is the 100 TB
    representation the reference carries through its whole pipeline."""
    km = _loop_input(packed_counts, "kid")
    return _rank(PACKED, km, k, max_rounds, _keeps_cycles(algorithm))


def rank_paths_blocks(
    block_counts: DataFrame, k: int, max_rounds: int = 40, algorithm: str = "rank"
) -> DataFrame:
    """:func:`rank_paths` over long-block packed k-mers (k > 31) —
    DataFrame[kid: array<long>, count] as produced by
    :func:`reflexiv_spark.operators.counter_blocks.count_kmers_blocks`
    with ``decode=False`` — the reference's long-k array-of-longs encoding
    (``ReflexivDSDynamicKmerRuduction.java:3220-3241``) carried through
    the contraction loop."""
    km = _loop_input(block_counts, "kid")
    return _rank(BLOCKS, km, k, max_rounds, _keeps_cycles(algorithm))


def _keeps_cycles(algorithm: str) -> bool:
    if algorithm not in ("contract", "rank"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    return algorithm == "contract"


def _loop_input(counts: DataFrame, col: str) -> DataFrame:
    """The walk's input DataFrame[<col>, count]: checkpointed — its
    consumers are :func:`_rank`'s count, then the walk's node rows, or
    pre, suc and the final join — unless it is in one partition, which a
    checkpoint would drop (see :func:`_rank`)."""
    km = counts.select(col, F.col("count").cast("int").alias("count"))
    if in_one_partition(km):
        return km
    return km.localCheckpoint(eager=False)


def _rank(
    codec: KmerCodec, km: DataFrame, k: int, max_rounds: int, keep: bool
) -> DataFrame:
    """The pointer-doubling kernel over ``codec`` ids: DataFrame[<codec.col>,
    count] from :func:`_loop_input` → DataFrame[seq, left_cover,
    right_cover]; ``keep`` adds the kept cycles (:func:`_walk_cycles`).

    A single-partition input is walked in its one task uncounted: its
    caller measured it under the one-task gate and moved it there (the
    packed pipelines' rungs, see ``pipelines.assemble._id_barrier``) or
    chose one task for it."""
    o = k - 1
    c = codec.col
    # any other input: ONE materializing count up front runs the upstream
    # pipeline into the checkpoint and gives the walk its exact row count
    # (state rows == km rows under the fork-free precondition) and the
    # one-task gate its measured size
    n_km = None if in_one_partition(km) else count_rows(km)
    if n_km is None or fits_one_task(n_km * codec.row_bytes(k)):
        # the whole walk in one task over the codec ids themselves: the
        # node rows carry id and count through it, so there is no init
        # join, no decode join and no proxy-id pass (coalesce(1) is
        # narrow)
        nodes = km.coalesce(1).select(
            F.col(c).alias("kid"),
            "count",
            codec.prefix_key(c, k, o).alias("__pk"),
            codec.suffix_key(c, k, o).alias("__sk"),
        )
        done, rest = split_walk(walk_nodes(nodes, max_rounds))
        ids, val, row_bytes = None, "kid", codec.row_bytes(k)
    else:
        done, rest, ids, val, row_bytes = _rank_shuffle(
            codec, km, k, n_km, max_rounds, keep
        )
    if keep:
        done = _walk_cycles(codec, done, rest, ids, val, k, max_rounds, row_bytes)
    if ids is not None:
        done = done.join(ids, "kid")
    parts = done.groupBy("anc").agg(
        F.array_sort(
            F.collect_list(F.struct("off", F.col(val).alias(c), "count"))
        ).alias("xs")
    )
    xs = F.col("xs")
    return parts.select(
        stitch_walk(
            xs,
            lambda x: codec.decode(x[c], k),
            lambda x: codec.suffix_str(x[c], k, o),
        ).alias("seq"),
        xs.getItem(0)["count"].cast("int").alias("left_cover"),
        F.element_at("xs", -1)["count"].cast("int").alias("right_cover"),
    )


def _rank_shuffle(
    codec: KmerCodec, km: DataFrame, k: int, n_km: int, max_rounds: int,
    keep: bool,
):
    """Above the one-task gate: the shuffle walk over ``km`` →
    (done, rest, ids, val, row_bytes), ``ids`` the decode side mapping
    the walk id ``kid`` to the codec id column ``val``."""
    o = k - 1
    c = codec.col
    hashed = False
    if codec.array_ids:
        # Loop-state proxy ids (r13, guide §2.3 "shuffle keys and metadata
        # instead of payloads"): every doubling round would move TWO
        # array<long> pointers + an offset per row (~48+16·nb B unsafe at nb
        # blocks), but the loop only ever tests pointer EQUALITY — the block
        # digits are not consulted until final assembly. Riding the rounds
        # on xxhash64(kid) collapses the per-round exchange row to three
        # longs (~4× fewer bytes at k=41, and scalar join hashing instead of
        # array hashing), with the blocks re-attached by ONE hashed join at
        # final assembly. Only this shuffle walk hashes: under the gate
        # the one-task walk keys the block arrays directly.
        # Correctness is gated exactly, not probabilistically: one
        # aggregate gives the injectivity witness (distinct hids == rows);
        # any collision — 2⁻⁶⁴ birthday odds, but checked, not assumed —
        # falls back to the array-id loop, so the result is provably
        # identical either way.
        kmh = km.select(F.xxhash64(c).alias("hid"), F.col(c).alias("bid"), "count")
        hashed = kmh.agg(F.count_distinct("hid")).first()[0] == n_km
    src, lid, val = (kmh, "hid", "bid") if hashed else (km, c, c)
    pre = src.select(
        F.col(lid).alias("kid"), codec.prefix_key(val, k, o).alias("__pk")
    )
    suc = src.select(
        F.col(lid).alias("__pred"), codec.suffix_key(val, k, o).alias("__pk")
    )
    done, rest = walk_paths(pre, suc, n_km, max_rounds, cycles=keep)
    # decode side: loop id as "kid" next to the codec id it stands for
    ids = src if lid == "kid" else src.select(F.col(lid).alias("kid"), val, "count")
    return done, rest, ids, val, 64 if hashed else codec.row_bytes(k)


def _walk_cycles(
    codec: KmerCodec, done: DataFrame, rest: DataFrame, ids: DataFrame | None,
    val: str, k: int, max_rounds: int, row_bytes: int,
) -> DataFrame:
    """``done`` plus the kept cycles of ``rest``, each cut into a path and
    walked again.

    ``rest`` holds the walk's unresolved rows with ``anc`` a per-cycle
    label; ``ids`` maps the walk id ``kid`` to the codec id ``val``, or is
    None when the rows carry it (the one-task walk: ``val`` is ``kid`` and
    ``count`` rides along). A ring sits in the graph as two cycles, one
    per strand, whose members are each other's reverse complements. Both
    have the same smallest canonical id min(id, revcomp(id)), and only
    the strand holding it has it as its own smallest id, so exactly one
    passes; a cycle that is its own reverse complement passes once. The
    kept cycle's smallest member loses its predecessor and heads the
    path."""
    o = k - 1
    cycle = Window.partitionBy("anc")
    canon = F.least(F.col(val), codec.revcomp(val, k))
    kept = (
        (rest if ids is None else rest.join(ids, "kid"))
        .withColumns({
            "__cut": F.min(val).over(cycle),
            "__canon": F.min(canon).over(cycle),
        })
        .where(F.col("__cut") == F.col("__canon"))
        .localCheckpoint(eager=False)  # the count, pre and suc
    )
    n = count_rows(kept)
    if n == 0:
        return done
    head_key = F.when(F.col(val) != F.col("__cut"), codec.prefix_key(val, k, o))
    if fits_one_task(n * row_bytes):
        carried = [] if ids is not None else ["count"]
        nodes = kept.coalesce(1).select(
            "kid", *carried, head_key.alias("__pk"),
            codec.suffix_key(val, k, o).alias("__sk"),
        )
        cycles, _ = split_walk(walk_nodes(nodes, max_rounds))
    else:
        pre = kept.select("kid", head_key.alias("__pk"))
        suc = kept.select(
            F.col("kid").alias("__pred"), codec.suffix_key(val, k, o).alias("__pk")
        )
        cycles, _ = walk_paths(pre, suc, n, max_rounds)
    return done.unionByName(cycles)


def fits_one_task(state_bytes: int) -> bool:
    """The one-task gate: a walk state of ``state_bytes`` (measured rows ×
    a per-row estimate) is small enough for :func:`walk_nodes`, and a
    rung or a junction fix that small runs in one partition."""
    return state_bytes <= _LOOP_BCAST_BYTES


def walk_paths(
    pre: DataFrame,
    suc: DataFrame,
    n_rows: int,
    max_rounds: int,
    cycles: bool = False,
):
    """Pointer-doubling walk of a fork-free path graph by one shuffle join
    per round (:func:`_double_pointers`) → (done, rest); the walk for
    states above the one-task gate (below it, :func:`walk_nodes`).

    ``pre``: DataFrame[kid, __pk], every node once, keyed by the join key
    of its head end; ``suc``: DataFrame[__pred, __pk], a node keyed by the
    join key of its tail end. ``n_rows`` is the exact node count (the
    walk's round bound and fork-free check: the walk raises on a state
    row count other than ``n_rows``).

    Round bound: ceil(log2(n_rows)) + 1 (capped at ``max_rounds``). Every
    head-reachable pointer and every cycle label has converged by then,
    so surviving CYCLES cannot pin the walk at ``max_rounds``.

    Both are DataFrame[kid, anc, off] after the walk: each node's last
    pointer and its offset from it. ``done`` holds the nodes whose walk
    reached an in-degree-0 head (``anc`` is that head); ``rest`` holds the
    others — cycle members (and self-loops) never reach one. With
    ``cycles``, a ``rest`` row's ``anc`` is instead its cycle's label: one
    member, the same for the whole cycle, from a running minimum over the
    ids doubled beside the pointer (the walk then runs until no label
    changes).
    """
    # each node points at its unique predecessor, or at itself (off 0)
    # when it heads a path
    state = pre.join(suc, "__pk", "left").select(
        "kid",
        F.coalesce("__pred", F.col("kid")).alias("anc"),
        F.when(F.col("__pred").isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("off"),
    )
    if cycles:
        state = state.withColumn("lbl", F.col("kid"))
    # lazy barrier: with AQE the call runs the init join's shuffle stages,
    # and the first loop probe runs the last stage into the blocks
    state = iteration_barrier(state, eager=False)
    heads = state.where(F.col("off") == 0).select(F.col("kid").alias("anc"))
    state = _double_pointers(state, _rounds(n_rows, max_rounds), n_rows)
    rest = state.join(heads, "anc", "left_anti")
    if cycles:
        state = state.drop("lbl")
        rest = rest.select("kid", F.col("lbl").alias("anc"), "off")
    return state.join(heads, "anc", "left_semi"), rest


def _rounds(n_rows: int, max_rounds: int) -> int:
    return min(max_rounds, max(1, math.ceil(math.log2(max(n_rows, 2))) + 1))


def walk_nodes(nodes: DataFrame, max_rounds: int, prepare=None) -> DataFrame:
    """The one-task walk: node rows in ONE partition → the same rows with
    ``anc``, ``off`` and ``__done`` (see :func:`split_walk`).

    ``nodes``: DataFrame[kid, <carried columns>, __pk, __sk], every node
    once with the key of its head end (``__pk``; null: no predecessor)
    and of its tail end (``__sk``). The kernel (:func:`_walk_task`)
    links each node to the one node whose tail key is its head key and
    doubles the pointers in numpy, so the walk is a narrow
    ``mapInArrow`` of its input: a single-partition input plans no
    Exchange before or after it. The carried columns ride through, and
    ``prepare`` (Arrow table → table, run first in the task) may drop
    rows or null head keys. Same round bound and same ``done`` /
    ``rest`` split as :func:`walk_paths`; a ``rest`` row's ``anc`` is
    always its cycle's label.
    """
    fields = [f for f in nodes.schema.fields if f.name not in ("__pk", "__sk")]
    return nodes.mapInArrow(
        functools.partial(_walk_task, max_rounds=max_rounds, prepare=prepare),
        StructType(
            fields
            + [
                StructField("anc", nodes.schema["kid"].dataType, False),
                StructField("off", LongType(), False),
                StructField("__done", BooleanType(), False),
            ]
        ),
    )


def split_walk(walked: DataFrame) -> tuple[DataFrame, DataFrame]:
    """:func:`walk_nodes` output → (done, rest), as :func:`walk_paths`
    returns them, carried columns included."""
    return (
        walked.where("__done").drop("__done"),
        walked.where(~F.col("__done")).drop("__done"),
    )


def stitch_walk(xs: Column, head, tail) -> Column:
    """``head(xs[0]) || tail(xs[1]) || … || tail(xs[-1])`` over an
    offset-sorted array of walk members."""
    rest = F.array_join(
        F.transform(F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))), tail),
        "",
    )
    return F.concat(head(xs.getItem(0)), rest)


def _fork_free_error(detail: str) -> ValueError:
    return ValueError(
        f"rank_paths: fork-free precondition violated — {detail} (an "
        "in-degree>1 (k-1)-mer fans the init join out, and the log2(n) "
        "round bound derived from the input count would terminate the "
        "contraction early with wrong output). Run prune_forks / "
        "min_error_coverage pruning first."
    )


def _id_keys(ids):
    """Hashable numpy keys of a null-free Arrow id column: the values
    themselves for long and string ids, one fixed-width ``np.void`` per
    row for ``array<long>`` block ids (every row holds the same block
    count)."""
    import numpy as np
    import pyarrow as pa

    if not pa.types.is_list(ids.type):
        return ids.to_numpy(zero_copy_only=False)
    blocks = ids.flatten().to_numpy().reshape(len(ids), -1)
    return blocks.view(np.dtype((np.void, 8 * blocks.shape[1]))).ravel()


def _valid_keys(keys):
    """(row positions, :func:`_id_keys`) of the non-null entries of an
    Arrow key column."""
    import numpy as np
    import pyarrow.compute as pc

    pos = np.flatnonzero(keys.is_valid().to_numpy(zero_copy_only=False))
    return pos, _id_keys(pc.take(keys, pos))


def _walk_task(batches, max_rounds: int, prepare=None):
    """mapInArrow body of :func:`walk_nodes`: the node rows of one task →
    the same rows without ``__pk`` / ``__sk``, plus ``anc``, ``off`` and
    ``__done``, doubling row positions in numpy.

    Each node points at the node whose ``__sk`` equals its ``__pk`` (off
    1; a self-loop points at itself), or at itself (off 0) when none
    does. Same walk as :func:`_double_pointers`: at most the
    :func:`walk_paths` round bound, stopping once no pointer moves.
    ``__done``: the final pointer is an ``off == 0`` head. A cycle's
    pointers stop moving only once 2^r steps is a whole number of turns
    round it (otherwise the walk runs every round), so the running
    minimum row position doubled beside them covers the cycle by then:
    the other rows take that row as their ``anc`` label. Raises on a
    repeated ``kid`` or a head key that two nodes end in (an in-degree-2
    key: the fork-free guard).
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    t = pa.Table.from_batches(batches).combine_chunks()
    if prepare is not None:
        t = prepare(t)
    n = t.num_rows
    kid = t.column("kid").combine_chunks()
    if not pd.Index(_id_keys(kid)).is_unique:
        raise _fork_free_error(f"{n} node rows repeat a node id")
    heads, head_keys = _valid_keys(t.column("__pk").combine_chunks())
    tails, tail_keys = _valid_keys(t.column("__sk").combine_chunks())
    tail_keys = pd.Index(tail_keys)
    if not tail_keys.is_unique:
        fan = tail_keys.duplicated(keep=False)
        if pd.Index(head_keys).isin(tail_keys[fan]).any():
            raise _fork_free_error("two nodes end in one node's head key")
        tails, tail_keys = tails[~fan], tail_keys[~fan]
    at = tail_keys.get_indexer(head_keys)
    linked = at >= 0
    ptr = np.arange(n)
    ptr[heads[linked]] = tails[at[linked]]
    off = np.zeros(n, dtype=np.int64)
    off[heads[linked]] = 1
    lab = np.arange(n)
    for _ in range(_rounds(n, max_rounds)):
        nxt = ptr[ptr]
        if np.array_equal(nxt, ptr):
            break
        off = off + off[ptr]
        lab = np.minimum(lab, lab[ptr])
        ptr = nxt
    done = off[ptr] == 0
    carried = [name for name in t.column_names if name not in ("__pk", "__sk")]
    yield pa.RecordBatch.from_arrays(
        [t.column(name).combine_chunks() for name in carried]
        + [kid.take(pa.array(np.where(done, ptr, lab))), pa.array(off),
           pa.array(done)],
        names=carried + ["anc", "off", "__done"],
    )


def _double_pointers(state: DataFrame, rounds: int, n_rows: int) -> DataFrame:
    """Pointer-doubling rounds over DataFrame[kid, anc, off], one shuffle
    join per round.

    Fork-free guard: ``n_rows`` claims state rows == input rows. An
    in-degree-2 key fans the init join out, the real state is larger and
    the bound could cut long paths short, so the first probe counts state
    rows and raises on a mismatch (the count is loop-invariant).

    Exit: every ``_BARRIER_EVERY`` rounds a lazy barrier (with AQE its
    call runs the rounds' shuffle stages) is completed by a full-scan
    mover count. An unconverged path pointer always moves
    and then never moves again, while cycle movers are non-increasing, so
    two consecutive probes with equal mover counts prove every path has
    converged. Extra rounds are identity jumps for path rows.

    A ``lbl`` column is a running minimum doubled beside the pointer. A
    round in which no label drops proves every cycle's labels equal its
    minimum (each label is then no larger than the one 2^r members on,
    all the way round), so the probe also counts drops and the walk
    stops on equal mover counts only once none is left.
    """
    cycles = "lbl" in state.columns
    lbl2, relabel = [], []
    if cycles:
        lbl2 = [F.col("lbl").alias("__lbl2")]
        relabel = [
            F.least("lbl", "__lbl2").alias("lbl"),
            (F.col("__lbl2") < F.col("lbl")).alias("__drop"),
        ]
    # n_rows is the caller's fork-free CLAIM, verified at the first probe
    claimed_rows = n_rows
    prev_movers = None
    for r in range(1, rounds + 1):
        jump = state.select(
            F.col("kid").alias("anc"),
            F.col("anc").alias("__anc2"),
            F.col("off").alias("__off2"),
            *lbl2,
        )
        # the join key "anc" is the OLD pointer: __moved compares it to the
        # jumped pointer in the same pass — no second self-join for the
        # convergence test
        nxt = state.join(jump, "anc").select(
            "kid",
            F.col("__anc2").alias("anc"),
            (F.col("off") + F.col("__off2")).alias("off"),
            (F.col("__anc2") != F.col("anc")).alias("__moved"),
            *relabel,
        )
        if r % _BARRIER_EVERY == 0 or r == rounds:
            nxt = iteration_barrier(nxt, eager=False)
            # full-scan aggregate (not limit(1)): computes EVERY
            # partition, so the checkpoint's last stage completes in this
            # one job and downstream rounds reuse the blocks
            probe = {"m": F.count_if(F.col("__moved"))}
            if claimed_rows is not None:
                probe["n"] = F.count(F.lit(1))
            if cycles:
                probe["d"] = F.count_if(F.col("__drop"))
            got = nxt.agg(*(v.alias(a) for a, v in probe.items())).first()
            if claimed_rows is not None:
                if got["n"] != claimed_rows:
                    raise _fork_free_error(
                        f"pointer state has {got['n']} rows for "
                        f"{claimed_rows} input k-mers"
                    )
                claimed_rows = None  # row count is loop-invariant
            movers, drops = got["m"], got["d"] if cycles else 0
            state = nxt.drop("__moved", "__drop")
            if movers == 0 or (movers == prev_movers and drops == 0):
                break
            prev_movers = movers
        else:
            state = nxt.drop("__moved", "__drop")
    return state

