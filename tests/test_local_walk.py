"""The one-task walk against the shuffle walk.

Under the one-task gate, ``walk_paths`` doubles every pointer in numpy
inside one executor task; above it, every round is a shuffle join. Each
test runs with the gate forced each way and must give the same contigs as
a plain Python walk of the same fork-free graph, on every id type (packed
longs, hashed and array block ids, strings) and edge input, and must keep
the fork-free guard.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import random_genome, revcomp
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
