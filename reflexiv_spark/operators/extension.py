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

Spark-first re-expression — ONE hash shuffle per round, no global sort:

1. orientation = ``xxhash64(seq, round) % 2`` (deterministic, reproducible,
   fresh each round — same role as the reference's alternation);
2. key = leading (k-1)-mer for forward rows, trailing (k-1)-mer for
   reflected rows; union both sides tagged A (reflected, path *ends* at
   key) / B (forward, path *starts* at key);
3. ``groupBy(key)`` hash aggregate picks the (unique) A and B row per key:
   both present → emit the contraction ``A || substr(B, k)``; one present →
   pass through. Map-side partial aggregation halves shuffle bytes; AQE
   coalesces post-shuffle partitions as the working set shrinks
   geometrically.

PRECONDITION: the input graph is fork-free — every (k-1)-mer has in/out
degree ≤ 1 (run :func:`reflexiv_spark.pipelines.assemble.prune_forks`
first, the reference's W1/W2 stage). Fork-freeness is invariant under
contraction, so no per-round re-checking is needed (the reference re-sorts
and re-scans every round; we don't have to).

Scale notes (100 TB): per round = one hash exchange of surviving sequences
+ an eager ``localCheckpoint`` (executor-local storage) to cut lineage —
replacing the reference's per-step SparkSession restarts + gzip-CSV
barriers (``Pipelines.java:832-839``). Driver traffic is one scalar count
per three rounds. The pointer-doubling walk below keeps that shape (a
shuffle join per round, a probe every three) only above the one-task gate
``_LOOP_BCAST_BYTES``: a measured state under it is walked whole inside
one executor task, where per-job cost, not data, would set the wall.

The pointer-doubling alternative (:func:`rank_paths`) is ONE kernel over a
k-mer codec (:mod:`reflexiv_spark.operators._codec`): ASCII strings,
2-bit packed longs (k ≤ 31) or long-block arrays (k > 31). The codec
supplies the id column, the prefix/suffix join keys and the tail decode;
``rank_paths_packed`` / ``rank_paths_blocks`` are its entry points over
already-packed ids, and ``rank_paths`` picks the packed codec itself
when its input is fixed-length pure ACGT. The walk itself
(:func:`walk_paths`) and the final concatenation (:func:`stitch_walk`)
are shared with junction fixing, which walks contigs instead of k-mers.
"""

from __future__ import annotations

import functools
import math
import sys

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from reflexiv_spark.functions.kmer import prefix_subkmer, suffix_subkmer
from reflexiv_spark.operators._codec import (
    BLOCKS,
    PACKED,
    STRING,
    KmerCodec,
    codec_for,
)

# Reference iteration budget: DefaultParam.java:115.
DEFAULT_MAX_ITERATIONS = 150
# Rounds per barrier + convergence probe, in both loops.
_BARRIER_EVERY = 3
# The randomized loop never stops earlier: the reference's
# minimumIteration (DefaultParam.java:116).
_MIN_ITERATIONS = 15

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

_PATH_STRUCT = ["seq", "left_cover", "right_cover"]


def to_paths(kmer_counts: DataFrame) -> DataFrame:
    """kmer counts → path rows (seq, left_cover, right_cover).

    Covers start as the k-mer's own count (the reference packs marker/left/
    right into one long — C6 ``ReflexivDSDynamicKmerRuduction.java:3250-3280``;
    we keep real int columns, SURVEY.md §1.3).
    """
    return kmer_counts.select(
        F.col("kmer").alias("seq"),
        F.col("count").cast("int").alias("left_cover"),
        F.col("count").cast("int").alias("right_cover"),
    )


def extension_round(paths: DataFrame, k: int, round_idx: int) -> DataFrame:
    """One randomized contraction round (W3 / J1): single hash-agg shuffle.

    ``paths``: DataFrame[seq, left_cover, right_cover]; every seq is a walk
    in the k-order de Bruijn graph (length ≥ k), and a mergeable
    suffix/prefix pair shares k - 1 bases.

    Safety: a group is merged ONLY when it holds exactly one A-side and
    one B-side row; any other population (a violated fork-free
    precondition) passes every row through unchanged — never silently
    dropped. Each input row is tagged onto exactly one (key, side), so
    pass-through cannot duplicate rows.
    """
    fwd = F.xxhash64("seq", F.lit(round_idx)) % 2 == 0
    tagged = paths.select(
        F.when(fwd, prefix_subkmer("seq", k)).otherwise(
            suffix_subkmer("seq", k)
        ).alias("key"),
        F.when(fwd, F.lit("B")).otherwise(F.lit("A")).alias("side"),
        F.struct(*_PATH_STRUCT).alias("row"),
    )
    grouped = tagged.groupBy("key").agg(
        F.collect_list(F.when(F.col("side") == "A", F.col("row"))).alias("al"),
        F.collect_list(F.when(F.col("side") == "B", F.col("row"))).alias("bl"),
    )
    a = F.col("al").getItem(0)
    b = F.col("bl").getItem(0)
    merged = F.struct(
        F.concat(a["seq"], F.expr(f"substring(bl[0].seq, {k})")).alias("seq"),
        a["left_cover"].alias("left_cover"),
        b["right_cover"].alias("right_cover"),
    )
    out_rows = F.when(
        (F.size("al") == 1) & (F.size("bl") == 1), F.array(merged)
    ).otherwise(F.concat(F.col("al"), F.col("bl")))
    return grouped.select(F.explode(out_rows).alias("r")).select(
        F.col("r.seq").alias("seq"),
        F.col("r.left_cover").alias("left_cover"),
        F.col("r.right_cover").alias("right_cover"),
    )


def rank_paths(
    kmer_counts: DataFrame,
    k: int,
    max_rounds: int = 40,
    packed: bool = True,
) -> DataFrame:
    """Pointer-doubling (list-ranking) contraction — the O(rows)-per-round
    alternative to :func:`extend_to_convergence` (VERDICT r3 item 5).

    The randomized contraction shuffles every row's FULL growing sequence
    each round — O(corpus bytes) exchanged per round, O(rounds × corpus)
    total. Here rows are the fixed-width k-mers themselves: each k-mer
    carries an ancestor pointer (toward its path head) and an offset, and
    per round the pointer jumps to its ancestor's ancestor (classic
    pointer doubling / list ranking) — per-round exchange is
    O(rows × ~40 B) regardless of how long paths grow, rounds are
    ceil(log2(longest path)) DETERMINISTICALLY (no randomized-pairing
    minimum-iteration floor), and sequences are assembled exactly once at
    the end (one groupBy over (head, offset, k-mer)).

    PRECONDITION: fork-free graph (run prune_forks first), like
    :func:`extension_round`. Returns DataFrame[seq, left_cover,
    right_cover] — exactly the ANCHORED maximal paths (each starting at an
    in-degree-0 (k-1)-mer). Pure cycles have no head, never converge, and
    are dropped — the same order-free semantics the recursive-CTE oracles
    define, where the randomized scheme would emit a rotation-dependent
    representative.

    Scale note: final assembly holds one path's (offset, k-mer) structs in
    a single aggregation buffer — same endgame footprint as the
    contraction scheme's final row carrying the whole contig string.

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
        return _rank(STRING, km, k, max_rounds)
    codec = codec_for(k, packed=True)
    return codec.public(sys.modules[__name__], "rank_paths{}")(
        km.select(codec.encode("kmer", k).alias("kid"), "count"),
        k,
        max_rounds=max_rounds,
    )


def rank_paths_packed(
    packed_counts: DataFrame, k: int, max_rounds: int = 40
) -> DataFrame:
    """:func:`rank_paths` over ALREADY-PACKED 2-bit bigint k-mer ids —
    DataFrame[kid: bigint, count] as produced by
    :func:`reflexiv_spark.operators.counter_packed.count_kmers_packed`
    with ``decode=False``. End-to-end string-free: this is the 100 TB
    representation the reference carries through its whole pipeline."""
    km = _loop_input(packed_counts, "kid")
    return _rank(PACKED, km, k, max_rounds)


def rank_paths_blocks(
    block_counts: DataFrame, k: int, max_rounds: int = 40
) -> DataFrame:
    """:func:`rank_paths` over long-block packed k-mers (k > 31) —
    DataFrame[kid: array<long>, count] as produced by
    :func:`reflexiv_spark.operators.counter_blocks.count_kmers_blocks`
    with ``decode=False`` — the reference's long-k array-of-longs encoding
    (``ReflexivDSDynamicKmerRuduction.java:3220-3241``) carried through
    the contraction loop."""
    km = _loop_input(block_counts, "kid")
    return _rank(BLOCKS, km, k, max_rounds)


def _loop_input(counts: DataFrame, col: str) -> DataFrame:
    # lazy barrier: three consumers (pre, suc, final join)
    return counts.select(
        col, F.col("count").cast("int").alias("count")
    ).localCheckpoint(eager=False)


def _rank(codec: KmerCodec, km: DataFrame, k: int, max_rounds: int) -> DataFrame:
    """The pointer-doubling kernel over ``codec`` ids: DataFrame[<codec.col>,
    count] (checkpointed) → DataFrame[seq, left_cover, right_cover]."""
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
    small = fits_one_task(n_km * (64 if hashed else codec.row_bytes(k)))
    pre = src.select(
        F.col(lid).alias("kid"), codec.prefix_key(val, k, o).alias("__pk")
    )
    suc = src.select(
        F.col(lid).alias("__pred"), codec.suffix_key(val, k, o).alias("__pk")
    )
    done, _ = walk_paths(pre, suc, n_km, max_rounds, small=small)
    # decode side: loop id as "kid" next to the codec id it stands for
    km_j = src if lid == "kid" else src.select(F.col(lid).alias("kid"), val, "count")
    if small:
        km_j = F.broadcast(km_j)
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
    head-reachable pointer has converged by then, so surviving CYCLES
    cannot pin the walk at ``max_rounds``. Both walks raise on a state row
    count other than ``n_rows`` (the fork-free guard).

    Both are DataFrame[kid, anc, off] after the walk: each node's last
    pointer and its offset from it. ``done`` holds the nodes whose walk
    reached an in-degree-0 head (``anc`` is that head); ``rest`` holds the
    others — cycle members (and self-loops, anc == kid with off == 1)
    never reach one.
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
    # the lazy barrier is materialized by the first loop probe instead of
    # a job of its own
    state = iteration_barrier(state, eager=False)
    heads = state.where(F.col("off") == 0).select(F.col("kid").alias("anc"))
    state = _double_pointers(state, rounds, n_rows)
    return (
        state.join(heads, "anc", "left_semi"),
        state.join(heads, "anc", "left_anti"),
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
    ``off == 0`` head. Raises on a row count other than ``n_rows`` or a
    duplicate ``kid`` (the fork-free guard).
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
    for _ in range(rounds):
        nxt = ptr[ptr]
        if np.array_equal(nxt, ptr):
            break
        off = off + off[ptr]
        ptr = nxt
    yield pa.RecordBatch.from_arrays(
        [kid, kid.take(pa.array(ptr)), pa.array(off), pa.array(off[ptr] == 0)],
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
    """
    from reflexiv_spark.plans.barriers import iteration_barrier

    # n_rows is the caller's fork-free CLAIM, verified at the first probe
    claimed_rows = n_rows
    prev_movers = None
    for r in range(1, rounds + 1):
        jump = state.select(
            F.col("kid").alias("anc"),
            F.col("anc").alias("__anc2"),
            F.col("off").alias("__off2"),
        )
        # the join key "anc" is the OLD pointer: __moved compares it to the
        # jumped pointer in the same pass — no second self-join for the
        # convergence test
        nxt = state.join(jump, "anc").select(
            "kid",
            F.col("__anc2").alias("anc"),
            (F.col("off") + F.col("__off2")).alias("off"),
            (F.col("__anc2") != F.col("anc")).alias("__moved"),
        )
        if r % _BARRIER_EVERY == 0 or r == rounds:
            nxt = iteration_barrier(nxt, eager=False)
            # full-scan aggregate (not limit(1)): computes EVERY
            # partition, so the lazy checkpoint materializes completely
            # in this one job and downstream rounds reuse the blocks
            if claimed_rows is not None:
                movers, n_state = nxt.agg(
                    F.count_if(F.col("__moved")).alias("m"),
                    F.count(F.lit(1)).alias("n"),
                ).first()
                if n_state != claimed_rows:
                    raise _fork_free_error(
                        f"pointer state has {n_state} rows for "
                        f"{claimed_rows} input k-mers"
                    )
                claimed_rows = None  # row count is loop-invariant
            else:
                movers = nxt.agg(
                    F.count_if(F.col("__moved")).alias("m")
                ).first()[0]
            state = nxt.drop("__moved")
            if movers == 0 or movers == prev_movers:
                break
            prev_movers = movers
        else:
            state = nxt.drop("__moved")
    return state


def extend_to_convergence(
    paths: DataFrame, k: int, max_iterations: int = DEFAULT_MAX_ITERATIONS
) -> DataFrame:
    """Drive contraction rounds until the row count stops shrinking (I1/I2).

    Mirrors the reference's convergence loop (``ReflexivDSMain.java:
    297-330``): every ``_BARRIER_EVERY`` rounds, an eager
    ``localCheckpoint`` keeps the logical plan O(1) deep and a count
    checks for convergence. Skipped rounds re-execute from the previous
    checkpoint but reuse persisted shuffle files, so batching 3 rounds
    per checkpoint cuts working-set materializations 3× for ~zero
    recompute (measured ~20% faster end-to-end).

    A remaining joinable pair survives one random-orientation round with
    probability 3/4, so a single unchanged window is weak evidence of
    convergence ((3/4)^3 ≈ 42%). We therefore require TWO consecutive
    unchanged windows ((3/4)^6 ≈ 18% false-stop per straggling pair) and
    never stop before ``_MIN_ITERATIONS`` rounds.

    This is the ``algorithm="contract"`` kernel: unlike
    :func:`rank_paths` it keeps a representative of every pure cycle, as
    the reference does.
    """
    from reflexiv_spark.plans.barriers import iteration_barrier

    current = iteration_barrier(paths.dropDuplicates(["seq"]))
    prev_count = current.count()
    unchanged_windows = 0
    for i in range(1, max_iterations + 1):
        current = extension_round(current, k, i)
        if i % _BARRIER_EVERY == 0:
            current = iteration_barrier(current)
            n = current.count()
            if n == prev_count:
                unchanged_windows += 1
                if unchanged_windows >= 2 and i >= _MIN_ITERATIONS:
                    break
            else:
                unchanged_windows = 0
            prev_count = n
    return current
