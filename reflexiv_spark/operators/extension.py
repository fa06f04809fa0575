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
round is one shuffle join of (id, pointer, offset) rows, with a lazy
``localCheckpoint`` and one scalar probe every three rounds — replacing
the reference's per-step SparkSession restarts + gzip-CSV barriers
(``Pipelines.java:832-839``). A measured state under the gate is walked
whole inside one executor task, where per-job cost, not data, would set
the wall.

The walk is ONE kernel over a k-mer codec
(:mod:`reflexiv_spark.operators._codec`): ASCII strings, 2-bit packed
longs (k ≤ 31) or long-block arrays (k > 31). The codec supplies the id
column, the prefix/suffix join keys, the reverse complement and the tail
decode; ``rank_paths_packed`` / ``rank_paths_blocks`` are its entry
points over already-packed ids, and ``rank_paths`` picks the packed codec
itself when its input is fixed-length pure ACGT. The walk itself
(:func:`walk_paths`) and the final concatenation (:func:`stitch_walk`)
are shared with junction fixing, which walks contigs instead of k-mers.
"""

from __future__ import annotations

import functools
import math
import sys

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from reflexiv_spark.operators._codec import (
    BLOCKS,
    PACKED,
    STRING,
    KmerCodec,
    codec_for,
)

# Rounds per barrier + convergence probe in the shuffle walk.
_BARRIER_EVERY = 3

# One-task gate for the pointer-doubling walk: when the MEASURED state
# size (an exact row count × a conservative per-row estimate) fits under
# this many bytes, :func:`walk_paths` doubles every pointer in numpy inside
# ONE executor task — one job instead of a broadcast-join job per round
# plus a probe job every ``_BARRIER_EVERY`` rounds — and the init join and
# final-assembly decode join are broadcasts. The gate is driven by a
# measured count, not an estimate (reset_stats deliberately discards the
# compounding size stats, so Catalyst sees "unknown/huge" and would never
# broadcast on its own), and it is scale-adaptive: a 100 TB run's billions
# of rows exceed it and take the shuffle path. 64 MB is ~1M scalar-id rows,
# far inside one task's memory ("a few hundred MB is usually fine", far
# from the 8 GB hard cap). The size was inherited from the old broadcast
# gate; measured for the one-task walk at the gate itself (interleaved,
# 3 runs per arm, local[4] on a 4-vCPU host, tools/ab_walk_gate.py), the
# one-task walk is still the faster one: rank_paths_packed over 1M k-mers
# 3.6-5.1 s vs 14.3-17.4 s, rank_paths_blocks (k=41) 5.5-6.0 s vs
# 19.1-22.0 s, fix_junctions over 60k 500-base contigs 3.1-4.6 s vs
# 9.0-10.1 s. Larger states were not measured, so the gate stays here.
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
    # the lazy checkpoint sits BEFORE the packed guard so the guard's scan
    # materializes it and every later consumer (packed projection, or the
    # string path's pre/suc/decode-join) reads the barrier, not the
    # upstream lineage. Packed sub-k-mer keys need a non-empty overlap.
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
    # lazy barrier: three consumers (pre, suc, final join)
    return counts.select(
        col, F.col("count").cast("int").alias("count")
    ).localCheckpoint(eager=False)


def _rank(
    codec: KmerCodec, km: DataFrame, k: int, max_rounds: int, keep: bool
) -> DataFrame:
    """The pointer-doubling kernel over ``codec`` ids: DataFrame[<codec.col>,
    count] (checkpointed) → DataFrame[seq, left_cover, right_cover];
    ``keep`` adds the kept cycles (:func:`_walk_cycles`)."""
    o = k - 1
    c = codec.col
    if codec.array_ids:
        # Loop-state proxy ids (r13, guide §2.3 "shuffle keys and metadata
        # instead of payloads"): every doubling round would move TWO
        # array<long> pointers + an offset per row (~48+16·nb B unsafe at nb
        # blocks), but the loop only ever tests pointer EQUALITY — the block
        # digits are not consulted until final assembly. Riding the rounds
        # on xxhash64(kid) collapses the per-round exchange row to three
        # longs (~4× fewer bytes at k=41, and scalar join hashing instead of
        # array hashing), with the blocks re-attached by ONE hashed join at
        # final assembly; under the one-task gate there are no per-round
        # exchanges and this pass is not measured against array ids there.
        # Correctness is gated exactly, not probabilistically: ONE
        # materializing pass gives both the exact row count (rounds bound +
        # one-task gate) and the injectivity witness (distinct hids ==
        # rows); any collision — 2⁻⁶⁴ birthday odds, but checked, not
        # assumed — falls back to the array-id loop, so the result is
        # provably identical either way.
        kmh = km.select(F.xxhash64(c).alias("hid"), F.col(c).alias("bid"), "count")
        n_km, n_hid = kmh.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct("hid").alias("nh")
        ).first()
        hashed = n_hid == n_km
    else:
        # ONE materializing count up front: runs the whole upstream
        # pipeline into the checkpoint and gives the loop its exact row
        # count (state rows == km rows under the fork-free precondition),
        # so the doubling loop skips its own count job and the one-task
        # gate is driven by a measured size
        n_km, hashed = km.count(), False
    src, lid, val = (kmh, "hid", "bid") if hashed else (km, c, c)
    row_bytes = 64 if hashed else codec.row_bytes(k)
    small = fits_one_task(n_km * row_bytes)
    pre = src.select(
        F.col(lid).alias("kid"), codec.prefix_key(val, k, o).alias("__pk")
    )
    suc = src.select(
        F.col(lid).alias("__pred"), codec.suffix_key(val, k, o).alias("__pk")
    )
    done, rest = walk_paths(pre, suc, n_km, max_rounds, small=small, cycles=keep)
    # decode side: loop id as "kid" next to the codec id it stands for
    km_j = src if lid == "kid" else src.select(F.col(lid).alias("kid"), val, "count")
    if small:
        km_j = F.broadcast(km_j)
    if keep:
        done = _walk_cycles(codec, done, rest, km_j, val, k, max_rounds, row_bytes)
    parts = done.join(km_j, "kid").groupBy("anc").agg(
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


def _walk_cycles(
    codec: KmerCodec, done: DataFrame, rest: DataFrame, ids: DataFrame,
    val: str, k: int, max_rounds: int, row_bytes: int,
) -> DataFrame:
    """``done`` plus the kept cycles of ``rest``, each cut into a path and
    walked again → DataFrame[kid, anc, off].

    ``rest`` holds the walk's unresolved rows with ``anc`` a per-cycle
    label; ``ids`` maps the walk id ``kid`` to the codec id ``val``. A
    ring sits in the graph as two cycles, one per strand, whose members
    are each other's reverse complements. Both have the same smallest
    canonical id min(id, revcomp(id)), and only the strand holding it has
    it as its own smallest id, so exactly one passes; a cycle that is its
    own reverse complement passes once. The kept cycle's smallest member
    loses its predecessor and heads the path."""
    o = k - 1
    cycle = Window.partitionBy("anc")
    canon = F.least(F.col(val), codec.revcomp(val, k))
    kept = (
        rest.join(ids, "kid")
        .withColumns({
            "__cut": F.min(val).over(cycle),
            "__canon": F.min(canon).over(cycle),
        })
        .where(F.col("__cut") == F.col("__canon"))
        .localCheckpoint(eager=False)  # the count, pre and suc
    )
    n = kept.count()
    if n == 0:
        return done
    pre = kept.select(
        "kid",
        F.when(F.col(val) != F.col("__cut"), codec.prefix_key(val, k, o))
        .alias("__pk"),
    )
    suc = kept.select(
        F.col("kid").alias("__pred"), codec.suffix_key(val, k, o).alias("__pk")
    )
    cycles, _ = walk_paths(
        pre, suc, n, max_rounds, small=fits_one_task(n * row_bytes)
    )
    return done.unionByName(cycles)


def fits_one_task(state_bytes: int) -> bool:
    """The one-task gate: a walk state of ``state_bytes`` (measured rows ×
    a per-row estimate) is small enough for :func:`walk_paths`' local
    walk and for broadcast joins around it."""
    return state_bytes <= _LOOP_BCAST_BYTES


def walk_paths(
    pre: DataFrame,
    suc: DataFrame,
    n_rows: int,
    max_rounds: int,
    small: bool = False,
    cycles: bool = False,
):
    """Pointer-doubling walk of a fork-free path graph → (done, rest).

    ``pre``: DataFrame[kid, __pk], every node once, keyed by the join key
    of its head end; ``suc``: DataFrame[__pred, __pk], a node keyed by the
    join key of its tail end. ``n_rows`` is the exact node count (the
    walk's round bound and fork-free check). ``small`` (see
    :func:`fits_one_task`) broadcasts the successor map and walks the
    whole state in ONE task (:func:`_walk_local`); otherwise every round
    is a shuffle join (:func:`_double_pointers`).

    Round bound: ceil(log2(n_rows)) + 1 (capped at ``max_rounds``). Every
    head-reachable pointer and every cycle label has converged by then,
    so surviving CYCLES cannot pin the walk at ``max_rounds``. Both walks raise on a state row
    count other than ``n_rows`` (the fork-free guard).

    Both are DataFrame[kid, anc, off] after the walk: each node's last
    pointer and its offset from it. ``done`` holds the nodes whose walk
    reached an in-degree-0 head (``anc`` is that head); ``rest`` holds the
    others — cycle members (and self-loops) never reach one. With
    ``cycles``, a ``rest`` row's ``anc`` is instead its cycle's label: one
    member, the same for the whole cycle. Each row doubles a running
    minimum beside its pointer; the one-task walk always does (over row
    positions, at no extra pass), the shuffle walk only with ``cycles``
    (over the ids) and then runs until no label changes.
    """
    from reflexiv_spark.plans.barriers import iteration_barrier

    # each node points at its unique predecessor, or at itself (off 0)
    # when it heads a path
    state = pre.join(F.broadcast(suc) if small else suc, "__pk", "left").select(
        "kid",
        F.coalesce("__pred", F.col("kid")).alias("anc"),
        F.when(F.col("__pred").isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("off"),
    )
    rounds = min(max_rounds, max(1, math.ceil(math.log2(max(n_rows, 2))) + 1))
    if small:
        # coalesce(1) is narrow: no exchange, the init join runs in the
        # walk's one task; three consumers read the lazy barrier
        walked = iteration_barrier(
            state.coalesce(1).mapInArrow(
                functools.partial(_walk_local, n_rows=n_rows, rounds=rounds),
                StructType(
                    state.schema.fields
                    + [StructField("__done", BooleanType(), False)]
                ),
            ),
            eager=False,
        )
        return (
            walked.where("__done").drop("__done"),
            walked.where(~F.col("__done")).drop("__done"),
        )
    if cycles:
        state = state.withColumn("lbl", F.col("kid"))
    # the lazy barrier is materialized by the first loop probe instead of
    # a job of its own
    state = iteration_barrier(state, eager=False)
    heads = state.where(F.col("off") == 0).select(F.col("kid").alias("anc"))
    state = _double_pointers(state, rounds, n_rows)
    rest = state.join(heads, "anc", "left_anti")
    if cycles:
        state = state.drop("lbl")
        rest = rest.select("kid", F.col("lbl").alias("anc"), "off")
    return state.join(heads, "anc", "left_semi"), rest


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
    """Hashable numpy keys of an Arrow id column: the values themselves for
    long and string ids, one fixed-width ``np.void`` per row for
    ``array<long>`` block ids (every row holds the same block count)."""
    import numpy as np
    import pyarrow as pa

    if not pa.types.is_list(ids.type):
        return ids.to_numpy(zero_copy_only=False)
    blocks = ids.flatten().to_numpy().reshape(len(ids), -1)
    return blocks.view(np.dtype((np.void, 8 * blocks.shape[1]))).ravel()


def _walk_local(batches, n_rows: int, rounds: int):
    """mapInArrow body: the whole (kid, anc, off) state of one task →
    (kid, anc, off, __done), doubling row positions in numpy.

    Same walk as :func:`_double_pointers`: at most ``rounds`` rounds,
    stopping once no pointer moves. ``__done``: the final pointer is an
    ``off == 0`` head. A cycle's pointers stop moving only once 2^r
    steps is a whole number of turns round it (otherwise the walk runs
    all ``rounds``, see :func:`walk_paths`), so the running minimum row
    position doubled beside them covers the cycle by then: the other
    rows take that row as their ``anc`` label. Raises on a row count
    other than ``n_rows`` or a duplicate ``kid`` (the fork-free guard).
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    batches = list(batches)
    n = sum(b.num_rows for b in batches)
    if n != n_rows:
        raise _fork_free_error(
            f"pointer state has {n} rows for {n_rows} input k-mers"
        )
    if n == 0:
        return
    t = pa.Table.from_batches(batches)
    kid = t.column("kid").combine_chunks()
    index = pd.Index(_id_keys(kid))
    if not index.is_unique:
        raise _fork_free_error(f"pointer state repeats a node id in {n} rows")
    ptr = index.get_indexer(_id_keys(t.column("anc").combine_chunks()))
    off = t.column("off").to_numpy()
    lab = np.arange(n)
    for _ in range(rounds):
        nxt = ptr[ptr]
        if np.array_equal(nxt, ptr):
            break
        off = off + off[ptr]
        lab = np.minimum(lab, lab[ptr])
        ptr = nxt
    done = off[ptr] == 0
    anc = kid.take(pa.array(np.where(done, ptr, lab)))
    yield pa.RecordBatch.from_arrays(
        [kid, anc, pa.array(off), pa.array(done)],
        names=["kid", "anc", "off", "__done"],
    )


def _double_pointers(state: DataFrame, rounds: int, n_rows: int) -> DataFrame:
    """Pointer-doubling rounds over DataFrame[kid, anc, off], one shuffle
    join per round.

    Fork-free guard: ``n_rows`` claims state rows == input rows. An
    in-degree-2 key fans the init join out, the real state is larger and
    the bound could cut long paths short, so the first probe counts state
    rows and raises on a mismatch (the count is loop-invariant).

    Exit: every ``_BARRIER_EVERY`` rounds a lazy barrier is materialized
    by a full-scan mover count. An unconverged path pointer always moves
    and then never moves again, while cycle movers are non-increasing, so
    two consecutive probes with equal mover counts prove every path has
    converged. Extra rounds are identity jumps for path rows.

    A ``lbl`` column is a running minimum doubled beside the pointer. A
    round in which no label drops proves every cycle's labels equal its
    minimum (each label is then no larger than the one 2^r members on,
    all the way round), so the probe also counts drops and the walk
    stops on equal mover counts only once none is left.
    """
    from reflexiv_spark.plans.barriers import iteration_barrier

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
            # partition, so the lazy checkpoint materializes completely
            # in this one job and downstream rounds reuse the blocks
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

