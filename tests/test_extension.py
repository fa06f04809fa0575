"""Extension-loop tests: the pointer-doubling contraction in both cycle
modes + end-to-end assembly goldens (SURVEY.md §5 items 3; FIXTURES.md §8
"full single-k assembly")."""

import pytest
from pyspark.sql import functions as F

from reflexiv_spark.operators.extension import rank_paths
from reflexiv_spark.pipelines.assemble import assemble
from tests.conftest import random_genome, revcomp, simulate_reads


def test_single_linear_path_contracts(spark):
    # k-mers of one 12 bp sequence, k=5: contraction must rebuild it.
    g = "ACGTACTTGGCA"
    k = 5
    kmers = sorted({g[i : i + k] for i in range(len(g) - k + 1)})
    df = spark.createDataFrame([(km, 1) for km in kmers], ["kmer", "count"])
    out = rank_paths(df, k, max_rounds=50, algorithm="contract")
    seqs = {r["seq"] for r in out.collect()}
    assert g in seqs
    assert len(seqs) == 1


def test_extension_round_preserves_kmer_content(spark):
    g = random_genome(300, seed=3)
    k = 15
    kmers = sorted({g[i : i + k] for i in range(len(g) - k + 1)})
    df = spark.createDataFrame([(km, 1) for km in kmers], ["kmer", "count"])
    cur = rank_paths(df, k, algorithm="contract")
    # Every contig is a genuine substring-walk of the genome, and the
    # union of contig k-mers equals the input k-mers.
    rows = [r["seq"] for r in cur.collect()]
    regenerated = set()
    for s in rows:
        assert s in g, f"{s} not a substring of genome"
        for i in range(len(s) - k + 1):
            regenerated.add(s[i : i + k])
    assert regenerated == set(kmers)


@pytest.mark.parametrize("glen,k", [(2000, 21), (4576, 31)])
def test_e2e_assembly_recovers_genome(spark, glen, k):
    """Error-free reads at 15× → one contig equal to the genome (up to RC).

    The 4576/31 case mirrors the reference's example dataset
    (example/paired_dat*.fq.gz: one 4,576 bp contig at ~14.9×).
    """
    genome = random_genome(glen, seed=42)
    reads = simulate_reads(genome, read_len=100, coverage=15, seed=42)
    df = spark.createDataFrame([(r,) for r in reads], ["seq"])
    contigs = assemble(df, k=k, min_coverage=2, min_contig=500).collect()
    seqs = [r["seq"] for r in contigs]
    canon_genome = min(genome, revcomp(genome))
    # Coverage gaps can split the genome into a few contigs; the dominant
    # one must reconstruct (nearly) the full genome.
    assert seqs, "no contigs assembled"
    longest = max(seqs, key=len)
    assert len(longest) >= glen * 0.95
    assert longest in canon_genome or longest in revcomp(canon_genome)
    # All contigs must be genuine genome substrings (no chimeras).
    for s in seqs:
        assert s in genome or revcomp(s) in genome


def test_rank_paths_matches_contraction(spark):
    """The two cycle modes (rank drops cycles, contract keeps them) give
    the same anchored set on fork-free path graphs."""
    from reflexiv_spark.functions.kmer import prefix_subkmer, suffix_subkmer

    g = random_genome(600, seed=9)
    k = 15
    # three disjoint fragments -> multiple maximal paths
    frags = [g[0:220], g[240:430], g[450:600]]
    kmers = sorted({f[i : i + k] for f in frags for i in range(len(f) - k + 1)})
    df = spark.createDataFrame([(km, i % 5 + 1) for i, km in enumerate(kmers)], ["kmer", "count"])

    ranked = rank_paths(df, k)
    contracted = rank_paths(df, k, algorithm="contract")
    dsts = df.select(suffix_subkmer("kmer", k).alias("__dst")).distinct()
    anchored = contracted.join(
        dsts, prefix_subkmer("seq", k) == F.col("__dst"), "left_anti"
    )
    r = {(x["seq"], x["left_cover"], x["right_cover"]) for x in ranked.collect()}
    c = {(x["seq"], x["left_cover"], x["right_cover"]) for x in anchored.collect()}
    assert r == c
    assert {s for s, _, _ in r} == set(frags)


def test_rank_paths_drops_cycles_keeps_paths(spark):
    k = 5
    # pure cycle: rotations of a cyclic sequence; plus one linear path
    cyc = "ACGGTCA"  # cycle over ACGGT CGGTC GGTCA GTCAA? build rotations manually
    cyc_kmers = {(cyc + cyc)[i : i + k] for i in range(len(cyc))}
    lin = "TTTTCAGTA"
    lin_kmers = {lin[i : i + k] for i in range(len(lin) - k + 1)}
    rows = [(km, 1) for km in sorted(cyc_kmers | lin_kmers)]
    df = spark.createDataFrame(rows, ["kmer", "count"])
    out = [r["seq"] for r in rank_paths(df, k, max_rounds=12).collect()]
    assert out == [lin]


def test_rank_paths_packed_matches_string_path(spark):
    """The 2-bit packed-long pointer representation (k ≤ 31) and the string
    fallback produce identical anchored paths; mixed-length / non-ACGT
    inputs auto-fall back and stay correct."""
    g = random_genome(700, seed=31)
    k = 31
    frags = [g[0:260], g[280:500], g[520:700]]
    kmers = sorted({f[i : i + k] for f in frags for i in range(len(f) - k + 1)})
    df = spark.createDataFrame(
        [(km, i % 7 + 1) for i, km in enumerate(kmers)], ["kmer", "count"]
    )
    key = lambda rows: {(r["seq"], r["left_cover"], r["right_cover"]) for r in rows}
    p = key(rank_paths(df, k, packed=True).collect())
    s = key(rank_paths(df, k, packed=False).collect())
    assert p == s and {x for x, _, _ in p} == set(frags)

    # an N-containing k-mer defeats injective packing: auto-detect must
    # fall back to strings and match the explicit string path (the N^k row
    # itself is a self-loop — a cycle — and is dropped by both)
    noisy = df.union(
        spark.createDataFrame([("N" * k, 1)], ["kmer", "count"])
    )
    pn = key(rank_paths(noisy, k).collect())
    sn = key(rank_paths(noisy, k, packed=False).collect())
    assert pn == sn and {x for x, _, _ in pn} == set(frags)


def test_packed_revcomp_and_canonical_match_string_kernels(spark):
    """Catalyst bit-twiddled RC / canonical over packed bigints equal the
    string kernels for random k-mers across every k ≤ 31."""
    from pyspark.sql import functions as F

    from reflexiv_spark.functions.kmer import canonical_kmer, reverse_complement
    from reflexiv_spark.operators.counter_packed import (
        canonical_packed,
        kmer_to_packed,
        packed_to_kmer,
        revcomp_packed,
    )
    import random

    rng = random.Random(13)
    rows = [
        ("".join(rng.choice("ACGT") for _ in range(k)), k)
        for k in range(1, 32)
        for _ in range(8)
    ]
    for k in (1, 5, 16, 31):
        sub = [(s,) for s, kk in rows if kk == k]
        df = spark.createDataFrame(sub, "kmer string")
        got = df.select(
            "kmer",
            packed_to_kmer(revcomp_packed(kmer_to_packed("kmer", k), k), k).alias("rc_p"),
            reverse_complement("kmer").alias("rc_s"),
            packed_to_kmer(canonical_packed(kmer_to_packed("kmer", k), k), k).alias("can_p"),
            canonical_kmer("kmer").alias("can_s"),
        ).collect()
        for r in got:
            assert r["rc_p"] == r["rc_s"], (k, r)
            assert r["can_p"] == r["can_s"], (k, r)
    # round-trip identity
    df = spark.createDataFrame([(s,) for s, kk in rows if kk == 31], "kmer string")
    rt = df.select(
        "kmer", packed_to_kmer(kmer_to_packed("kmer", 31), 31).alias("rt")
    ).collect()
    assert all(r["kmer"] == r["rt"] for r in rt)


def test_fully_packed_pipeline_matches_string_rank(spark):
    """count→expand→prune→rank entirely over packed bigints produces the
    same contigs as the string pipeline (anchored-path semantics)."""
    from reflexiv_spark.operators.counter import count_kmers
    from reflexiv_spark.operators.counter_packed import count_kmers_packed
    from reflexiv_spark.pipelines.assemble import (
        assemble_from_counts,
        assemble_from_packed_counts,
    )

    g = random_genome(1200, seed=51)
    reads = simulate_reads(g, read_len=90, coverage=14, seed=52)
    df = spark.createDataFrame([(r,) for r in reads], ["seq"])
    k = 21
    s = {
        (r["seq"], r["left_cover"], r["right_cover"])
        for r in assemble_from_counts(
            count_kmers(df, k, min_coverage=2),
            k, min_contig=100, min_error_coverage=8, algorithm="rank",
        ).collect()
    }
    p = {
        (r["seq"], r["left_cover"], r["right_cover"])
        for r in assemble_from_packed_counts(
            count_kmers_packed(df, k, min_coverage=2, decode=False),
            k, min_contig=100, min_error_coverage=8,
        ).collect()
    }
    assert p == s and p


def test_assemble_packed_rank_end_to_end(spark):
    """assemble(packed=True, algorithm='rank') — the string-free front
    door — recovers the genome like the default path."""
    from reflexiv_spark.pipelines.assemble import assemble

    g = random_genome(1500, seed=71)
    reads = simulate_reads(g, read_len=100, coverage=15, seed=72)
    df = spark.createDataFrame([(r,) for r in reads], ["seq"])
    contigs = assemble(
        df, k=21, min_coverage=2, min_contig=400, packed=True, algorithm="rank"
    ).collect()
    assert contigs
    longest = max((r["seq"] for r in contigs), key=len)
    assert len(longest) >= 0.9 * len(g)
    assert longest in g or revcomp(longest) in g


def test_assemble_from_counts_rank_matches_contract(spark):
    from reflexiv_spark.operators.counter import count_kmers
    from reflexiv_spark.pipelines.assemble import assemble_from_counts

    g = random_genome(800, seed=21)
    reads = simulate_reads(g, read_len=80, coverage=12, seed=21)
    df = spark.createDataFrame([(r,) for r in reads], ["seq"])
    counts = count_kmers(df, 21, min_coverage=2).localCheckpoint(eager=True)
    a = {
        (r["seq"], r["left_cover"], r["right_cover"])
        for r in assemble_from_counts(counts, 21, min_contig=22, algorithm="rank").collect()
    }
    b = {
        (r["seq"], r["left_cover"], r["right_cover"])
        for r in assemble_from_counts(counts, 21, min_contig=22, algorithm="contract").collect()
    }
    assert a == b and a  # linear genome: no cycles, identical contigs


def test_rank_paths_blocks_hashed_ids_match_array_ids(spark, monkeypatch):
    """The r13 hashed loop-id proxy (xxhash64 pointer ids through the
    doubling rounds, blocks re-attached at final assembly) must produce
    byte-identical contigs to the array-id loop. A constant proxy hash
    collides on every row: the injectivity check must detect it and fall
    back to the array-id loop, with the same contigs."""
    from pyspark.sql.types import ArrayType, LongType

    from reflexiv_spark.operators import extension as ex
    from reflexiv_spark.operators.counter_blocks import count_kmers_blocks
    from reflexiv_spark.operators.extension import rank_paths_blocks

    k = 41
    genome = random_genome(1200, seed=21)
    seqs = simulate_reads(genome, read_len=150, coverage=18.0, seed=7)
    reads = spark.createDataFrame([(s,) for s in seqs], "seq string")
    counts = count_kmers_blocks(
        reads, k, min_coverage=1, max_coverage=None, decode=False
    )

    states = []
    orig = ex._double_pointers

    def spy(state, *a, **kw):
        states.append(state.schema["kid"].dataType)
        return orig(state, *a, **kw)

    monkeypatch.setattr(ex, "_double_pointers", spy)
    # shut the one-task gate so both runs reach the shuffle rounds
    monkeypatch.setattr(ex, "_LOOP_BCAST_BYTES", 0)
    hashed = sorted(tuple(r) for r in rank_paths_blocks(counts, k).collect())
    monkeypatch.setattr(F, "xxhash64", lambda *cols: F.lit(0).cast("long"))
    arr = sorted(tuple(r) for r in rank_paths_blocks(counts, k).collect())
    assert hashed == arr and hashed
    # first run rode the proxy ids, the collided run the block arrays
    assert states[0] == LongType()
    assert isinstance(states[1], ArrayType)
    assert states[1].elementType == LongType()


def test_rank_paths_forked_input_fails_loudly(spark):
    """The fork-free guard (VERDICT r13 'What's wrong #4'): rank_paths
    derives its log2(n) round bound from the INPUT count on the premise
    that state rows == input rows. Un-pruned forked input (an
    in-degree-2 (k-1)-mer) fans the init join out, under-counts the
    bound, and previously could terminate the contraction early with
    wrong output. It must raise instead."""
    # "ACG" has two predecessors: suffix("AAC") == suffix("CAC") == "AC"
    # == prefix("ACG") — an in-degree-2 fork that prune_forks would have
    # collapsed. Extended with a long tail so the un-forked path part
    # needs more rounds than the under-counted bound would grant.
    g = "ACGTACTTGGCATTACGGATCCAATTGGCCAA"
    k = 3
    kmers = sorted({g[i : i + k] for i in range(len(g) - k + 1)})
    kmers = sorted(set(kmers) | {"AAC", "CAC", "ACG"})
    df = spark.createDataFrame([(km, 1) for km in kmers], ["kmer", "count"])
    with pytest.raises(Exception, match="fork-free precondition violated"):
        rank_paths(df, k).collect()

    # the packed kernel shares the guard
    from reflexiv_spark.operators.counter_packed import kmer_to_packed
    from reflexiv_spark.operators.extension import rank_paths_packed

    packed = df.select(kmer_to_packed("kmer", k).alias("kid"), "count")
    with pytest.raises(Exception, match="fork-free precondition violated"):
        rank_paths_packed(packed, k).collect()
