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
per ``check_every`` rounds.

The pointer-doubling alternative (:func:`rank_paths`) is ONE kernel over a
k-mer codec (:mod:`reflexiv_spark.operators._codec`): ASCII strings,
2-bit packed longs (k ≤ 31) or long-block arrays (k > 31). The codec
supplies the id column, the prefix/suffix join keys and the tail decode;
``rank_paths_packed`` / ``rank_paths_blocks`` are its entry points over
already-packed ids, and ``rank_paths`` picks the packed codec itself
when its input is fixed-length pure ACGT.
"""

from __future__ import annotations

import math
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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

# Broadcast gate for the pointer-doubling loop (optimization round r13,
# guide §3.1): when the MEASURED state size (exact row count from the
# loop's own count × a conservative per-row estimate) fits under this
# many bytes, the per-round jump relation — and the final-assembly
# heads/count relations, which are never larger — are joined as explicit
# broadcasts instead of shuffle joins. Each doubling round then runs as
# a narrow map over the checkpointed state (0 exchanges) instead of 2
# hash exchanges, and the fixed per-stage latency that dominates small
# iterative states disappears. The gate is driven by a measured count,
# not an estimate (reset_stats deliberately discards the compounding
# size stats, so Catalyst sees "unknown/huge" and would never broadcast
# on its own), and it is scale-adaptive: a 100 TB run's billions of
# rows exceed the gate and take the unchanged shuffle path. 64 MB: a
# broadcast relation this size is comfortably inside guide-class
# executor memory ("a few hundred MB is usually fine", far from the
# 8 GB hard cap) while excluding any at-scale state.
_LOOP_BCAST_BYTES = 64 * 1024 * 1024


def _loop_broadcast_ok(n_rows: int | None, row_bytes: int | None) -> bool:
    return (
        n_rows is not None
        and row_bytes is not None
        and n_rows * row_bytes <= _LOOP_BCAST_BYTES
    )

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


def extension_round(
    paths: DataFrame,
    k: int,
    round_idx: int,
    overlap: int | None = None,
    allowed_keys: DataFrame | None = None,
) -> DataFrame:
    """One randomized contraction round (W3 / J1): single hash-agg shuffle.

    ``paths``: DataFrame[seq, left_cover, right_cover]; every seq is a walk
    in the k-order de Bruijn graph (length ≥ k). ``overlap`` (default k-1)
    is the number of bases shared between a mergeable suffix/prefix pair —
    the junction-fixing stage reuses this kernel with overlap = its fixed
    31-mer size (``ReflexivDSDynamicKmerFixing.java:191-257``).
    ``allowed_keys`` (DataFrame with one ``key`` column) restricts which
    junction keys may contract; rows landing on other keys pass through
    unchanged.

    Safety: a group is merged ONLY when it holds exactly one A-side and
    one B-side row; any other population (a violated fork-free
    precondition, or an ambiguous junction under ``allowed_keys``) passes
    every row through unchanged — never silently dropped. Each input row
    is tagged onto exactly one (key, side), so pass-through cannot
    duplicate rows.
    """
    o = (k - 1) if overlap is None else overlap
    fwd = F.xxhash64("seq", F.lit(round_idx)) % 2 == 0
    tagged = paths.select(
        F.when(fwd, prefix_subkmer("seq", o + 1)).otherwise(
            suffix_subkmer("seq", o + 1)
        ).alias("key"),
        F.when(fwd, F.lit("B")).otherwise(F.lit("A")).alias("side"),
        F.struct(*_PATH_STRUCT).alias("row"),
    )
    if allowed_keys is not None:
        marked = tagged.join(
            allowed_keys.select("key").withColumn("__ok", F.lit(True)),
            "key",
            "left",
        )
        bypass = marked.where(F.col("__ok").isNull()).select("row.*")
        tagged = marked.where(F.col("__ok").isNotNull()).drop("__ok")
    else:
        bypass = None
    grouped = tagged.groupBy("key").agg(
        F.collect_list(F.when(F.col("side") == "A", F.col("row"))).alias("al"),
        F.collect_list(F.when(F.col("side") == "B", F.col("row"))).alias("bl"),
    )
    a = F.col("al").getItem(0)
    b = F.col("bl").getItem(0)
    merged = F.struct(
        F.concat(a["seq"], F.expr(f"substring(bl[0].seq, {o + 1})")).alias("seq"),
        a["left_cover"].alias("left_cover"),
        b["right_cover"].alias("right_cover"),
    )
    out_rows = F.when(
        (F.size("al") == 1) & (F.size("bl") == 1), F.array(merged)
    ).otherwise(F.concat(F.col("al"), F.col("bl")))
    out = grouped.select(F.explode(out_rows).alias("r")).select(
        F.col("r.seq").alias("seq"),
        F.col("r.left_cover").alias("left_cover"),
        F.col("r.right_cover").alias("right_cover"),
    )
    return out if bypass is None else out.unionByName(bypass)


def rank_paths(
    kmer_counts: DataFrame,
    k: int,
    max_rounds: int = 40,
    overlap: int | None = None,
    checkpoint_every: int = 3,
    packed: bool | None = None,
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
    representative. Junction-restricted fusion (``allowed_keys``) stays on
    the randomized kernel.

    Scale note: final assembly holds one path's (offset, k-mer) structs in
    a single aggregation buffer — same endgame footprint as the
    contraction scheme's final row carrying the whole contig string.

    Shuffle representation: over pure-ACGT fixed-length k-mers (the
    common case after ``explode_kmers``' drop_invalid), ``packed``
    (auto-detected when None) swaps the per-round pointer columns from
    ASCII k-mer strings to the reference's 2-bit encoding
    (``ReflexivDataFrameCounter.java:513-525``): one int64 per k-mer for
    k ≤ 31 (:func:`rank_paths_packed`), long blocks above
    (:func:`rank_paths_blocks`). Each round then exchanges three longs per
    row (~24 B payload) instead of two k-byte strings, the prefix/suffix
    join keys are shift/mask ops, and strings are decoded exactly once at
    final assembly.
    """
    o = (k - 1) if overlap is None else overlap
    km = _loop_input(kmer_counts, "kmer")
    # the lazy checkpoint sits BEFORE the packed guard so the guard's scan
    # materializes it and every later consumer (packed projection, or the
    # string path's pre/suc/decode-join) reads the barrier, not the
    # upstream lineage
    if packed is None:
        packed = 0 < o < k
    if packed:
        # The packed id is injective only for fixed-length pure-ACGT rows;
        # one short-circuit scan guards the fallback (limit(1) stops at the
        # first offending row).
        bad = (
            km.where((F.length("kmer") != k) | F.col("kmer").rlike("[^ACGT]"))
            .limit(1)
            .count()
        )
        packed = bad == 0 and 0 < o < k
    if not packed:
        return _rank(STRING, km, k, overlap, max_rounds, checkpoint_every)
    codec = codec_for(k, packed=True)
    return codec.public(sys.modules[__name__], "rank_paths{}")(
        km.select(codec.encode("kmer", k).alias("kid"), "count"),
        k,
        max_rounds=max_rounds,
        overlap=overlap,
        checkpoint_every=checkpoint_every,
    )


def rank_paths_packed(
    packed_counts: DataFrame,
    k: int,
    max_rounds: int = 40,
    overlap: int | None = None,
    checkpoint_every: int = 3,
) -> DataFrame:
    """:func:`rank_paths` over ALREADY-PACKED 2-bit bigint k-mer ids —
    DataFrame[kid: bigint, count] as produced by
    :func:`reflexiv_spark.operators.counter_packed.count_kmers_packed`
    with ``decode=False``. End-to-end string-free: this is the 100 TB
    representation the reference carries through its whole pipeline."""
    km = _loop_input(packed_counts, "kid")
    return _rank(PACKED, km, k, overlap, max_rounds, checkpoint_every)


def rank_paths_blocks(
    block_counts: DataFrame,
    k: int,
    max_rounds: int = 40,
    overlap: int | None = None,
    checkpoint_every: int = 3,
) -> DataFrame:
    """:func:`rank_paths` over long-block packed k-mers (k > 31) —
    DataFrame[kid: array<long>, count] as produced by
    :func:`reflexiv_spark.operators.counter_blocks.count_kmers_blocks`
    with ``decode=False`` — the reference's long-k array-of-longs encoding
    (``ReflexivDSDynamicKmerRuduction.java:3220-3241``) carried through
    the contraction loop."""
    km = _loop_input(block_counts, "kid")
    return _rank(BLOCKS, km, k, overlap, max_rounds, checkpoint_every)


def _loop_input(counts: DataFrame, col: str) -> DataFrame:
    # lazy barrier: three consumers (pre, suc, final join)
    return counts.select(
        col, F.col("count").cast("int").alias("count")
    ).localCheckpoint(eager=False)


def _rank(
    codec: KmerCodec,
    km: DataFrame,
    k: int,
    overlap: int | None,
    max_rounds: int,
    checkpoint_every: int,
) -> DataFrame:
    """The pointer-doubling kernel over ``codec`` ids: DataFrame[<codec.col>,
    count] (checkpointed) → DataFrame[seq, left_cover, right_cover]."""
    o = (k - 1) if overlap is None else overlap
    c = codec.col
    if codec.array_ids:
        # Loop-state proxy ids (r13, guide §2.3 "shuffle keys and metadata
        # instead of payloads"): every doubling round would move TWO
        # array<long> pointers + an offset per row (~48+16·nb B unsafe at
        # nb blocks), but the loop only ever tests pointer EQUALITY — the
        # block digits are not consulted until final assembly. Riding the
        # rounds on xxhash64(kid) collapses the per-round exchange/
        # broadcast row to three longs (~4× fewer bytes at k=41, and
        # scalar join hashing instead of array hashing), with the blocks
        # re-attached by ONE hashed join at final assembly. Correctness is
        # gated exactly, not probabilistically: ONE materializing pass
        # gives both the exact row count (rounds bound + broadcast gate)
        # and the injectivity witness (distinct hids == rows); any
        # collision — 2⁻⁶⁴ birthday odds, but checked, not assumed —
        # falls back to the array-id loop, so the result is provably
        # identical either way.
        kmh = km.select(F.xxhash64(c).alias("hid"), F.col(c).alias("bid"), "count")
        n_km, n_hid = kmh.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct("hid").alias("nh")
        ).first()
        hashed = n_hid == n_km
    else:
        # ONE materializing count up front: runs the whole upstream
        # pipeline into the checkpoint and gives the loop its exact row
        # count (state rows == km rows under the fork-free precondition),
        # so the doubling loop skips its own count job and the broadcast
        # gate is driven by a measured size
        n_km, hashed = km.count(), False
    src, lid, val = (kmh, "hid", "bid") if hashed else (km, c, c)
    row_bytes = 64 if hashed else codec.row_bytes(k)
    small = _loop_broadcast_ok(n_km, row_bytes)
    pre = src.select(
        F.col(lid).alias("kid"), codec.prefix_key(val, k, o).alias("__pk")
    )
    suc = src.select(
        F.col(lid).alias("__pred"), codec.suffix_key(val, k, o).alias("__pk")
    )
    state, heads = _init_pointers(pre, suc, broadcast_suc=small)
    state = _double_pointers(
        state, max_rounds, checkpoint_every, n_rows=n_km, row_bytes=row_bytes
    )
    heads_j = F.broadcast(heads) if small else heads
    done = state.join(heads_j, "anc", "left_semi")
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
    rest_bases = F.array_join(
        F.transform(
            F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
            lambda x: codec.suffix_str(x[c], k, o),
        ),
        "",
    )
    return parts.select(
        F.concat(codec.decode(xs.getItem(0)[c], k), rest_bases).alias("seq"),
        xs.getItem(0)["count"].cast("int").alias("left_cover"),
        F.element_at("xs", -1)["count"].cast("int").alias("right_cover"),
    )


def _init_pointers(
    pre: DataFrame,
    suc: DataFrame,
    broadcast_suc: bool = False,
):
    """(state, heads) for the doubling loop: each k-mer points at its
    unique predecessor (fork-free input) or itself when it is a path head.
    A self-loop k-mer has anc == itself but off == 1, so it is NOT a head
    and correctly never converges.

    ``broadcast_suc`` joins the successor map as an explicit broadcast
    (callers set it from the measured-count gate — the init join then
    rides the same narrow-stage path as the gated loop rounds). The
    state barrier is lazy, so the first loop window materializes it in
    its own job instead of paying a dedicated checkpoint job."""
    from reflexiv_spark.plans.barriers import iteration_barrier

    if broadcast_suc:
        suc = F.broadcast(suc)
    state = iteration_barrier(
        pre.join(suc, "__pk", "left").select(
            "kid",
            F.coalesce("__pred", F.col("kid")).alias("anc"),
            F.when(F.col("__pred").isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("off"),
        ),
        eager=False,
    )
    heads = state.where(F.col("off") == 0).select(F.col("kid").alias("anc"))
    return state, heads


def _double_pointers(
    state: DataFrame,
    max_rounds: int,
    checkpoint_every: int,
    n_rows: int,
    row_bytes: int | None = None,
) -> DataFrame:
    """Pointer-doubling rounds over DataFrame[kid, anc, off].

    Rounds are bounded by ceil(log2(n)): after that many doublings every
    head-reachable pointer has converged (path length ≤ n), so surviving
    CYCLES — whose members keep moving forever unless their length is a
    power of two — cannot pin the loop at max_rounds. Callers pass the
    input row count as ``n_rows`` (state rows == input rows under the
    fork-free precondition), so the loop starts without its own count
    job.

    Every barrier is :func:`iteration_barrier` — plain
    ``localCheckpoint`` preserves the join's squared sizeInBytes
    estimate and the compounding BigInt turns plan time exponential
    (see ``plans/barriers.py``).

    Job economy (r9): the convergence probe runs ONLY at barrier rounds,
    and the barrier is LAZY — the probe's full-scan mover-count
    aggregate is the action that materializes the checkpoint, so each
    barrier costs ONE job (the old shape paid an eager-checkpoint job
    plus a probe job EVERY round: 2·rounds jobs; now it is
    rounds/checkpoint_every).

    Fork-free guard (r14, VERDICT r13 "What's wrong #4"): when the
    caller passes ``n_rows`` it is asserting state rows == input rows —
    the fork-free precondition. A caller that skipped pruning hands the
    init join fan-out (an in-degree-2 (k-1)-mer matches two predecessor
    rows), the real state is LARGER than ``n_rows``, and the
    ceil(log2(n_rows)) bound can cut the loop before long paths
    converge — silently wrong output. The FIRST probe round therefore
    counts state rows alongside the mover count (one extra aggregate
    column in a job that runs anyway — the state row count is invariant
    across rounds, so one check covers the loop) and raises instead of
    converging early. Out-degree-only forks (two successors, every
    in-degree still ≤ 1) keep state rows == input rows and converge to
    a merged grouping — that is the documented caller contract
    (prune_forks first), unchanged; the guard targets the rounds-bound
    hazard, which is exactly the fan-out case.

    Cycle-proof early exit (r9): the old probe stopped only when NO
    pointer moved — but cycle members move FOREVER, so one cycle
    anywhere in the input pinned the loop at the full log2(total-rows)
    bound even though every path had converged rounds earlier. The
    probe now counts movers: an unconverged PATH pointer always moves
    (its jump is strictly head-ward) and then never moves again, so the
    path-mover count is strictly decreasing while nonzero, and the
    cycle-mover count is NON-INCREASING — not constant: a cycle whose
    length divides 2^r collapses to self-loops after log2(c) doubling
    rounds and its members stop moving too. The exit therefore relies
    only on both deltas being ≤ 0 with the path delta strictly negative
    until exhausted: two consecutive probes with EQUAL mover counts
    prove no path pointer remains unconverged (whatever mix of live
    cycles and self-looped cycles makes up the residue) → stop. Identical fixed point for path rows (extra rounds are
    identity jumps); cycle rows are dropped by the callers' head
    semi-join regardless of how many extra laps they ran.
    """
    from reflexiv_spark.plans.barriers import iteration_barrier

    # n_rows is the caller's fork-free CLAIM, verified at the first probe
    claimed_rows = n_rows
    rounds = min(max_rounds, max(1, math.ceil(math.log2(max(n_rows, 2))) + 1))
    # measured-size broadcast gate (module docstring at _LOOP_BCAST_BYTES):
    # state row count is invariant across rounds (every kid keeps exactly
    # one row), so one gate decision holds for the whole loop
    small = _loop_broadcast_ok(n_rows, row_bytes)

    prev_movers = None
    for r in range(1, rounds + 1):
        jump = state.select(
            F.col("kid").alias("anc"),
            F.col("anc").alias("__anc2"),
            F.col("off").alias("__off2"),
        )
        if small:
            # gated: the jump map fits comfortably in memory, so each
            # round is a broadcast-hash join (no exchange of the state;
            # measured 2x faster per window than the shuffle pair at
            # sub-gate sizes). At scale the gate stays closed and the
            # shuffle join below is unchanged.
            jump = F.broadcast(jump)
        # the join key "anc" is the OLD pointer: __moved compares it to the
        # jumped pointer in the same pass — no second self-join for the
        # convergence test
        nxt = state.join(jump, "anc").select(
            "kid",
            F.col("__anc2").alias("anc"),
            (F.col("off") + F.col("__off2")).alias("off"),
            (F.col("__anc2") != F.col("anc")).alias("__moved"),
        )
        if r % checkpoint_every == 0 or r == rounds:
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
                    raise ValueError(
                        "rank_paths: fork-free precondition violated — "
                        f"pointer state has {n_state} rows for "
                        f"{claimed_rows} input k-mers (an in-degree>1 "
                        "(k-1)-mer fans the init join out, and the "
                        "log2(n) round bound derived from the input "
                        "count would terminate the contraction early "
                        "with wrong output). Run prune_forks / "
                        "min_error_coverage pruning first."
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
    paths: DataFrame,
    k: int,
    max_iterations: int = DEFAULT_MAX_ITERATIONS,
    check_every: int = 3,
    min_iterations: int = 15,
    overlap: int | None = None,
    allowed_keys: DataFrame | None = None,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Drive contraction rounds until the row count stops shrinking (I1/I2).

    Mirrors the reference's convergence loop (``ReflexivDSMain.java:
    297-330``): count every ``check_every`` rounds, stop when unchanged.
    Eager ``localCheckpoint`` every ``checkpoint_every`` rounds keeps the
    logical plan O(1) deep; skipped rounds re-execute from the previous
    checkpoint but reuse persisted shuffle files, so batching 3 rounds
    per checkpoint cuts working-set materializations 3× for ~zero
    recompute (measured ~20% faster end-to-end).

    A remaining joinable pair survives one random-orientation round with
    probability 3/4, so a single unchanged ``check_every`` window is weak
    evidence of convergence ((3/4)^3 ≈ 42%). We therefore require TWO
    consecutive unchanged windows ((3/4)^6 ≈ 18% false-stop per straggling
    pair) and never stop before ``min_iterations`` (the reference gates the
    same check behind minimumIteration = 15, ``DefaultParam.java:116``).
    """
    from reflexiv_spark.plans.barriers import iteration_barrier

    current = iteration_barrier(paths.dropDuplicates(["seq"]))
    prev_count = current.count()
    unchanged_windows = 0
    for i in range(1, max_iterations + 1):
        current = extension_round(
            current, k, i, overlap=overlap, allowed_keys=allowed_keys
        )
        if i % checkpoint_every == 0 or i % check_every == 0:
            current = iteration_barrier(current)
        if i % check_every == 0:
            n = current.count()
            if n == prev_count:
                unchanged_windows += 1
                if unchanged_windows >= 2 and i >= min_iterations:
                    break
            else:
                unchanged_windows = 0
            prev_count = n
    return current
