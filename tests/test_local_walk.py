"""The one-task walk against the shuffle walk.

Under the one-task gate, ``walk_nodes`` doubles every pointer in numpy
inside one executor task, and the packed pipelines' rungs and junction
fixing run in one partition; above it, every round of ``walk_paths`` is a
shuffle join. Each test runs with the gate forced each way and must give
the same contigs as a plain Python walk of the same fork-free graph, on
every id type (packed longs, hashed and array block ids, strings) and
edge input, and must keep the fork-free guard.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import random_genome, revcomp, simulate_reads
from tests.test_codec_seam import _seam_reads


@pytest.fixture(params=["local", "shuffle"])
def gate(request, monkeypatch):
    """Force the one-task gate open or shut; on teardown, check the walk
    took the path it was forced to."""
    from reflexiv_spark.operators import extension as ext

    calls = []
    orig = ext._double_pointers

    def spy(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(ext, "_double_pointers", spy)
    local = request.param == "local"
    # shut at -1: even an empty state (0 bytes) must take the shuffle walk
    monkeypatch.setattr(ext, "_LOOP_BCAST_BYTES", 1 << 62 if local else -1)
    yield request.param
    assert bool(calls) != local


def _pruned_counts(spark, seqs, k):
    """Fork-free k-mer counts of ``seqs``: count → both strands → prune."""
    from reflexiv_spark.operators._codec import STRING
    from reflexiv_spark.pipelines.assemble import expand_orientations, prune_forks

    reads = spark.createDataFrame([(s,) for s in seqs], "seq string")
    counts = STRING.count(reads, k, min_coverage=1, max_coverage=None)
    expanded = expand_orientations(counts, k, input_canonical=True)
    pruned = prune_forks(expanded, k, min_error_coverage=2)
    return {r.kmer: r["count"] for r in pruned.collect()}


def _walk_oracle(counts, keep=False):
    """Every anchored maximal path of a fork-free k-mer graph as (seq,
    left_cover, right_cover); cycles have no head and are dropped. With
    ``keep``, a cycle is kept when its smallest k-mer is also the smallest
    canonical k-mer over its members — of a cycle and its reverse
    complement, the one holding the smaller k-mer — and is walked from
    that k-mer."""
    by_prefix = {km[:-1]: km for km in counts}
    has_pred = {by_prefix[km[1:]] for km in counts if km[1:] in by_prefix}

    def walk(head):
        path = [head]
        while path[-1][1:] in by_prefix and by_prefix[path[-1][1:]] != head:
            path.append(by_prefix[path[-1][1:]])
        return path

    paths = [walk(head) for head in counts if head not in has_pred]
    left = set(counts).difference(*paths)
    while keep and left:
        cycle = walk(min(left))  # starts at its own smallest k-mer
        left.difference_update(cycle)
        if cycle[0] <= min(revcomp(km) for km in cycle):
            paths.append(cycle)
    return sorted(
        (p[0] + "".join(km[-1] for km in p[1:]), counts[p[0]], counts[p[-1]])
        for p in paths
    )


def _reads(case, k):
    if case == "rc_ring":
        # a ring that is its own reverse complement: x + revcomp(x) read
        # circularly holds every k-mer's reverse complement
        x = random_genome(150, seed=k)
        ring = x + revcomp(x)
        wrap = ring + ring[:89]
        return [wrap[i : i + 90] for i in range(0, len(ring), 10)]
    return _seam_reads(case, k)


# drop-mode ids read case-k-ids; keep-mode ids add "-contract"
_ORACLE_CASES = [
    ("genome", 21, "packed", "rank"),
    ("genome", 31, "packed", "rank"),
    ("genome", 41, "hashed", "rank"),
    ("genome", 41, "collided", "rank"),
    ("genome", 31, "string", "rank"),
    ("genome", 32, "hashed", "rank"),  # a palindromic 32-mer
    ("circular", 31, "packed", "rank"),
    ("single", 31, "packed", "rank"),
    ("single", 41, "hashed", "rank"),
    ("empty", 31, "packed", "rank"),
    ("circular", 31, "packed", "contract"),
    ("circular", 41, "hashed", "contract"),
    ("circular", 31, "string", "contract"),
    ("rc_ring", 31, "packed", "contract"),
    ("single", 31, "string", "contract"),  # the N self-loop beside a path
]


@pytest.mark.parametrize(
    "case,k,ids,algorithm",
    _ORACLE_CASES,
    ids=["-".join(map(str, c[:3] if c[3] == "rank" else c)) for c in _ORACLE_CASES],
)
def test_rank_paths_matches_walk_oracle(
    spark, gate, monkeypatch, case, k, ids, algorithm
):
    """``rank_paths`` over each id type gives the oracle's anchored paths
    on both walks: packed longs (k ≤ 31), hashed block ids (k > 31), the
    array block ids a forced xxhash64 collision falls back to, and the
    string kernel an N k-mer forces (its self-loop is dropped). With
    ``algorithm="contract"`` it also gives the oracle's kept cycles: one
    contig per ring, a ring that is its own reverse complement once, and
    the N self-loop."""
    from reflexiv_spark.operators.extension import rank_paths

    counts = _pruned_counts(spark, _reads(case, k), k)
    if ids == "string":
        counts["N" * k] = 1
    df = spark.createDataFrame(sorted(counts.items()), "kmer string, count int")
    if ids == "collided":
        monkeypatch.setattr(F, "xxhash64", lambda *cols: F.lit(0).cast("long"))
    keep = algorithm == "contract"
    got = sorted(tuple(r) for r in rank_paths(df, k, algorithm=algorithm).collect())
    assert got == _walk_oracle(counts, keep=keep)
    if case in ("genome", "single"):
        assert got
    rings = [s for s, _, _ in got if "N" not in s]
    if case == "circular" and not keep:
        assert counts and not got
    if case in ("circular", "rc_ring") and keep:
        assert [len(s) for s in rings] == [300 + k - 1]
    if ids == "string" and keep:
        assert ("N" * k, 1, 1) in got


def _rung_oracle(counts, keep):
    """:func:`_walk_oracle` as a rung finalizes it: each contig
    canonicalized, its two strands merged, the max cover of each end."""
    best = {}
    for seq, left, right in _walk_oracle(counts, keep=keep):
        key = min(seq, revcomp(seq))
        lo, hi = best.get(key, (0, 0))
        best[key] = (max(lo, left), max(hi, right))
    return sorted((s, lo, hi) for s, (lo, hi) in best.items())


_RUNG_CASES = [
    ("genome", 21, "packed"),
    ("genome", 31, "packed"),
    ("genome", 41, "blocks"),
    ("genome", 32, "blocks"),  # even k: the palindrome dedup runs
    ("genome", 31, "string"),
    ("circular", 31, "packed"),
    ("circular", 41, "blocks"),
    ("rc_ring", 31, "packed"),
    ("single", 31, "packed"),
    ("single", 41, "blocks"),
    ("empty", 31, "packed"),
]


@pytest.mark.parametrize("algorithm", ["rank", "contract"])
@pytest.mark.parametrize(
    "case,k,ids", _RUNG_CASES, ids=["-".join(map(str, c)) for c in _RUNG_CASES]
)
def test_rung_matches_walk_oracle(spark, gate, case, k, ids, algorithm):
    """A whole rung — canonical counts → expand → prune → walk →
    canonical contigs — gives the oracle's contigs on every codec and
    both cycle rules, in one partition under the gate and on the
    shuffle plans above it."""
    from reflexiv_spark.operators._codec import STRING, codec_for
    from reflexiv_spark.pipelines import assemble as asm

    reads = spark.createDataFrame([(r,) for r in _reads(case, k)], "seq string")
    counts = STRING.count(reads, k, min_coverage=1, max_coverage=None)
    codec = codec_for(k, packed=ids != "string")
    if codec is not STRING:
        counts = counts.select(codec.encode("kmer", k).alias("kid"), "count")
    rung = codec.public(asm, "assemble_from{}_counts")(
        counts, k, min_contig=k, min_error_coverage=2, input_canonical=True,
        algorithm=algorithm,
    )
    got = sorted(tuple(r) for r in rung.select("seq", "left_cover", "right_cover").collect())
    keep = algorithm == "contract"
    assert got == _rung_oracle(_pruned_counts(spark, _reads(case, k), k), keep)
    if case in ("genome", "single") or (keep and case != "empty"):
        assert got


def test_one_partition_plans_have_no_exchange(spark, monkeypatch):
    """Under the gate a rung (packed and blocks) and a junction fix plan
    no Exchange of any kind after their measured input; shut, they do."""
    from reflexiv_spark.operators import extension as ext
    from reflexiv_spark.operators.counter_blocks import count_kmers_blocks
    from reflexiv_spark.operators.counter_packed import count_kmers_packed
    from reflexiv_spark.operators.fixing import fix_junctions
    from reflexiv_spark.pipelines.assemble import (
        assemble_from_blocks_counts,
        assemble_from_packed_counts,
    )

    g = random_genome(1500, seed=31)
    reads = spark.createDataFrame(
        [(r,) for r in simulate_reads(g, read_len=100, coverage=10.0, seed=31)],
        "seq string",
    )
    contigs = spark.createDataFrame(
        [(g[i : i + 300],) for i in range(0, 1200, 269)], "seq string"
    )
    runs = {
        "packed": lambda: assemble_from_packed_counts(
            count_kmers_packed(reads, 31, min_coverage=2, decode=False), 31,
            min_contig=32, input_canonical=True,
        ),
        "blocks": lambda: assemble_from_blocks_counts(
            count_kmers_blocks(reads, 41, min_coverage=2, decode=False), 41,
            min_contig=42, input_canonical=True,
        ),
        "fixing": lambda: fix_junctions(contigs),
    }
    for gate, exchanges in ((1 << 62, False), (-1, True)):
        monkeypatch.setattr(ext, "_LOOP_BCAST_BYTES", gate)
        for name, run in runs.items():
            df = run()
            assert df.collect(), name
            plan = df._jdf.queryExecution().executedPlan().toString()
            # "Exchange" also matches BroadcastExchange
            assert ("Exchange" in plan) == exchanges, (name, plan)


@pytest.mark.parametrize("k,packed", [(31, False), (41, True)])
def test_assemble_contract_gives_one_contig_per_ring(spark, gate, k, packed):
    """A circular genome assembles to exactly one contig of length
    L + k - 1 holding the ring's k-mers, not one per strand."""
    from reflexiv_spark.pipelines.assemble import assemble

    size = 600
    g = random_genome(size, seed=17)
    wrap = g + g[:99]
    reads = [wrap[i : i + 100] for i in range(0, size, 5)]
    df = spark.createDataFrame([(r,) for r in reads], "seq string")
    contigs = [
        r.seq
        for r in assemble(
            df, k=k, min_coverage=2, min_contig=k, packed=packed,
            algorithm="contract",
        ).collect()
    ]
    assert len(contigs) == 1 and len(contigs[0]) == size + k - 1
    ring = {wrap[i : i + k] for i in range(size)}
    got = {contigs[0][i : i + k] for i in range(size)}
    assert got in (ring, {revcomp(km) for km in ring})


def test_fix_junctions_chain_and_cycle(spark, gate):
    """A 12-contig junction chain fuses into one contig and a 3-contig
    junction cycle passes through unfused, on both walks."""
    from reflexiv_spark.operators.fixing import fix_junctions

    js = [random_genome(31, seed=60 + i) for i in range(11)]
    ends = [random_genome(40, seed=80)] + js + [random_genome(40, seed=81)]
    chain = [
        ends[i] + random_genome(30, seed=90 + i) + ends[i + 1] for i in range(12)
    ]
    ks = [random_genome(31, seed=s) for s in (45, 46, 47)]
    cycle = [ks[i] + random_genome(40, seed=48 + i) + ks[(i + 1) % 3] for i in range(3)]
    short = random_genome(20, seed=99)
    df = spark.createDataFrame(
        [(s,) for s in (*chain, *cycle, short)], "seq string"
    )
    out = {r.seq for r in fix_junctions(df, max_rounds=12).collect()}
    fused = chain[0] + "".join(c[31:] for c in chain[1:])
    assert out == {fused, *cycle, short}


def test_fix_junctions_counts_support_before_dropping_repeats(spark, gate):
    """A repeated contig's junctions are not unique — support is counted
    over every input row before repeats are dropped — so it fuses with
    neither neighbour, while a unique junction beside it still fuses."""
    from reflexiv_spark.operators.fixing import fix_junctions

    js = [random_genome(31, seed=200 + i) for i in range(3)]
    a = random_genome(40, seed=210) + js[0]
    b = js[0] + random_genome(40, seed=211) + js[1]
    c = js[1] + random_genome(40, seed=212) + js[2]
    d = js[2] + random_genome(40, seed=213)
    df = spark.createDataFrame([(s,) for s in (a, b, b, c, d)], "seq string")
    out = sorted(r.seq for r in fix_junctions(df).collect())
    assert out == sorted([a, b, c + d[31:]])


def test_fix_junctions_empty(spark, gate):
    from reflexiv_spark.operators.fixing import fix_junctions

    df = spark.createDataFrame([], "seq string")
    assert fix_junctions(df).collect() == []


def test_forked_input_fails_loudly(spark, gate):
    """The fork-free guard holds on both walks, string and packed ids: an
    in-degree-2 (k-1)-mer fans the init join out."""
    from reflexiv_spark.operators.counter_packed import kmer_to_packed
    from reflexiv_spark.operators.extension import rank_paths, rank_paths_packed

    g = "ACGTACTTGGCATTACGGATCCAATTGGCCAA"
    k = 3
    kmers = sorted({g[i : i + k] for i in range(len(g) - k + 1)} | {"AAC", "CAC"})
    df = spark.createDataFrame([(km, 1) for km in kmers], "kmer string, count int")
    with pytest.raises(Exception, match="fork-free precondition violated"):
        rank_paths(df, k, packed=False).collect()
    packed = df.select(kmer_to_packed("kmer", k).alias("kid"), "count")
    with pytest.raises(Exception, match="fork-free precondition violated"):
        rank_paths_packed(packed, k).collect()


def test_walk_nodes_fork_free_guard(spark):
    """The one-task kernel raises on a head key two nodes end in (an
    in-degree-2 key) and on a repeated id; two nodes ending in a key no
    node starts from are no fork."""
    from reflexiv_spark.operators.extension import split_walk, walk_nodes

    def walk(rows):
        nodes = spark.createDataFrame(
            rows, "kid bigint, __pk bigint, __sk bigint"
        ).coalesce(1)
        done, rest = split_walk(walk_nodes(nodes, 10))
        return sorted(tuple(r) for r in done.collect()), rest.collect()

    with pytest.raises(Exception, match="fork-free precondition violated"):
        walk([(1, None, 7), (2, None, 7), (3, 7, 8)])
    with pytest.raises(Exception, match="fork-free precondition violated"):
        walk([(1, None, 7), (1, None, 8)])
    assert walk([(1, None, 7), (2, None, 7), (3, 8, 9)]) == (
        [(1, 1, 0), (2, 2, 0), (3, 3, 0)], []
    )
    # a chain 1 → 2 → 3 and a self-loop 4, labelled by itself
    done, rest = walk([(1, None, 5), (2, 5, 6), (3, 6, 7), (4, 8, 8)])
    assert done == [(1, 1, 0), (2, 1, 1), (3, 1, 2)]
    assert [(r.kid, r.anc) for r in rest] == [(4, 4)]


def test_local_rank_paths_packed_job_count(spark):
    """Under the gate, ``rank_paths_packed`` runs a fixed handful of jobs,
    not a job per doubling round."""
    from reflexiv_spark.operators.counter_packed import kmer_to_packed
    from reflexiv_spark.operators.extension import rank_paths_packed

    k = 31
    genome = random_genome(3000, seed=5)
    kmers = [(genome[i : i + k], 1) for i in range(len(genome) - k + 1)]
    counts = (
        spark.createDataFrame(kmers, "kmer string, count int")
        .select(kmer_to_packed("kmer", k).alias("kid"), "count")
        .localCheckpoint()
    )
    sc = spark.sparkContext
    group = "test-local-walk-jobs"
    sc.setJobGroup(group, "sub-gate rank_paths_packed")
    try:
        contigs = rank_paths_packed(counts, k).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r.seq for r in contigs] == [genome]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 8, jobs
