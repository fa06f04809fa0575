"""Long-block (k > 31) packed k-mer kernels: every operator must match
the oracle-proven string path bit for bit (tie-breaks included)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import (
    brute_force_kmer_counts,
    random_genome,
    revcomp,
    simulate_reads,
)


@pytest.mark.parametrize("k", [5, 31, 32, 41, 62, 63, 95])
def test_blocks_roundtrip_and_revcomp(spark, k):
    from reflexiv_spark.operators.counter_blocks import (
        blocks_to_kmer,
        canonical_blocks,
        kmer_to_blocks,
        revcomp_blocks,
    )

    kmers = [random_genome(k, seed=s) for s in range(20)]
    kmers += ["A" * k, "T" * k, "AC" * (k // 2) + "A" * (k % 2)]
    df = spark.createDataFrame([(s,) for s in kmers], "kmer string")
    out = df.select(
        "kmer",
        blocks_to_kmer(kmer_to_blocks("kmer", k), k).alias("rt"),
        blocks_to_kmer(revcomp_blocks(kmer_to_blocks("kmer", k), k), k).alias(
            "rc"
        ),
        blocks_to_kmer(
            canonical_blocks(kmer_to_blocks("kmer", k), k), k
        ).alias("canon"),
    ).collect()
    for r in out:
        assert r.rt == r.kmer
        assert r.rc == revcomp(r.kmer)
        assert r.canon == min(r.kmer, revcomp(r.kmer))


@pytest.mark.parametrize("k,o", [(41, 40), (41, 31), (62, 61), (95, 94), (33, 20)])
def test_blocks_sub_kmer_keys(spark, k, o):
    from reflexiv_spark.operators.counter_blocks import (
        blocks_to_kmer,
        kmer_to_blocks,
        prefix_key_blocks,
        suffix_key_blocks,
        suffix_str_blocks,
    )

    kmers = [random_genome(k, seed=100 + s) for s in range(16)]
    df = spark.createDataFrame([(s,) for s in kmers], "kmer string")
    out = df.select(
        "kmer",
        blocks_to_kmer(
            prefix_key_blocks(kmer_to_blocks("kmer", k), k, o), o
        ).alias("pre"),
        blocks_to_kmer(
            suffix_key_blocks(kmer_to_blocks("kmer", k), k, o), o
        ).alias("suf"),
        suffix_str_blocks(kmer_to_blocks("kmer", k), k, o).alias("tail"),
    ).collect()
    for r in out:
        assert r.pre == r.kmer[:o]
        assert r.suf == r.kmer[-o:]
        assert r.tail == r.kmer[o:]
    # the key layouts must agree: successor prefix == predecessor suffix
    # as ARRAYS, not just as decoded strings
    a, b = kmers[0], kmers[1]
    chained = a + b[: k - o]  # suffix-o of a == prefix-o of (a<<(k-o))
    df2 = spark.createDataFrame([(a, chained[k - o :])], "x string, y string")
    eq = df2.select(
        (
            suffix_key_blocks(kmer_to_blocks("x", k), k, o)
            == prefix_key_blocks(kmer_to_blocks("y", k), k, o)
        ).alias("eq")
    ).collect()
    assert eq[0].eq


@pytest.mark.parametrize("k", [35, 41, 62, 95])
def test_count_kmers_blocks_matches_string_counter(spark, k):
    from reflexiv_spark.operators.counter import count_kmers
    from reflexiv_spark.operators.counter_blocks import count_kmers_blocks

    genome = random_genome(700, seed=k)
    seqs = simulate_reads(genome, read_len=120, coverage=18.0, seed=k)
    # one read with an N: its windows must be dropped identically
    seqs.append(genome[:50] + "N" + genome[51:140])
    reads = spark.createDataFrame([(s,) for s in seqs], "seq string")
    want = {
        (r.kmer, r["count"])
        for r in count_kmers(reads, k, min_coverage=1, max_coverage=None).collect()
    }
    got = {
        (r.kmer, r["count"])
        for r in count_kmers_blocks(
            reads, k, min_coverage=1, max_coverage=None
        ).collect()
    }
    assert got == want
    assert want == {
        (km, n) for km, n in brute_force_kmer_counts(seqs, k).items()
    }


def test_count_kmers_blocks_coverage_band(spark):
    from reflexiv_spark.operators.counter import count_kmers
    from reflexiv_spark.operators.counter_blocks import count_kmers_blocks

    genome = random_genome(500, seed=7)
    seqs = simulate_reads(genome, read_len=90, coverage=20.0, seed=3)
    reads = spark.createDataFrame([(s,) for s in seqs], "seq string")
    k = 41
    want = {
        (r.kmer, r["count"])
        for r in count_kmers(reads, k, min_coverage=2, max_coverage=30).collect()
    }
    got = {
        (r.kmer, r["count"])
        for r in count_kmers_blocks(
            reads, k, min_coverage=2, max_coverage=30
        ).collect()
    }
    assert got == want


def test_blocks_groupby_and_join_on_arrays(spark):
    """The whole design rides on array<long> being a first-class
    grouping/join key — pin that contract."""
    from reflexiv_spark.operators.counter_blocks import kmer_to_blocks

    kmers = [random_genome(41, seed=s) for s in range(8)]
    df = spark.createDataFrame([(s,) for s in kmers * 3], "kmer string")
    g = (
        df.select(kmer_to_blocks("kmer", 41).alias("kid"))
        .groupBy("kid")
        .count()
        .collect()
    )
    assert len(g) == len(set(kmers)) and all(r["count"] == 3 for r in g)
    a = df.select(kmer_to_blocks("kmer", 41).alias("kid")).distinct()
    j = a.join(a.withColumnRenamed("kid", "kid2"), F.col("kid") == F.col("kid2"))
    assert j.count() == len(set(kmers))


@pytest.mark.parametrize("k", [33, 41, 62])
def test_blocks_pipeline_matches_string_pipeline(spark, k):
    """assemble(packed=True) above k=31 — counting, RC expansion, fork
    pruning, and the pointer-doubling loop all on array<long> — must
    emit exactly the string pipeline's contigs."""
    from reflexiv_spark.pipelines.assemble import assemble

    genome = random_genome(1500, seed=k * 3 + 1)
    seqs = simulate_reads(genome, read_len=150, coverage=25.0, seed=k)
    reads = spark.createDataFrame([(s,) for s in seqs], "seq string")
    kw = dict(
        k=k, min_coverage=2, min_contig=k + 1, algorithm="rank",
        min_error_coverage=8,
    )
    want = {
        (r.contig_id, r.seq, r.left_cover, r.right_cover)
        for r in assemble(reads, packed=False, **kw).collect()
    }
    got = {
        (r.contig_id, r.seq, r.left_cover, r.right_cover)
        for r in assemble(reads, packed=True, **kw).collect()
    }
    assert got == want and want  # identical and non-trivial
    # the assembled contig must actually cover the genome
    longest = max((s for _, s, _, _ in want), key=len)
    assert longest in genome or revcomp(longest) in genome


def test_prune_forks_blocks_matches_string(spark):
    from reflexiv_spark.operators.counter import count_kmers
    from reflexiv_spark.operators.counter_blocks import (
        blocks_to_kmer,
        count_kmers_blocks,
    )
    from reflexiv_spark.pipelines.assemble import (
        expand_orientations,
        expand_orientations_blocks,
        prune_forks,
        prune_forks_blocks,
    )

    k = 41
    genome = random_genome(900, seed=5)
    seqs = simulate_reads(genome, read_len=120, coverage=20.0, seed=9)
    reads = spark.createDataFrame([(s,) for s in seqs], "seq string")

    s_counts = count_kmers(reads, k, min_coverage=1, max_coverage=None)
    want = {
        (r.kmer, r["count"])
        for r in prune_forks(
            expand_orientations(s_counts), k, min_error_coverage=4
        ).collect()
    }
    b_counts = count_kmers_blocks(
        reads, k, min_coverage=1, max_coverage=None, decode=False
    )
    got = {
        (r.kmer, r["count"])
        for r in prune_forks_blocks(
            expand_orientations_blocks(b_counts, k), k, min_error_coverage=4
        )
        .select(blocks_to_kmer("kid", k).alias("kmer"), "count")
        .collect()
    }
    assert got == want and want


def test_meta_ladder_packed_matches_string(spark):
    """The multi-k ladder with packed=True (int64 ids at k=23, long
    blocks at k=41) must emit exactly the string ladder's contigs."""
    from reflexiv_spark.pipelines.meta import meta_assemble

    genome = random_genome(1000, seed=61)
    seqs = simulate_reads(genome, read_len=150, coverage=15.0, seed=13)
    reads = spark.createDataFrame([(s,) for s in seqs], "seq string")
    kw = dict(
        klist=(23, 41), min_coverage=2, min_contig=100, algorithm="rank"
    )
    want = {
        (r.contig_id, r.seq)
        for r in meta_assemble(reads, packed=False, **kw).collect()
    }
    got = {
        (r.contig_id, r.seq)
        for r in meta_assemble(reads, packed=True, **kw).collect()
    }
    assert got == want and want


def test_expand_orientations_input_canonical_skip(spark):
    """Odd-k canonical counts: ``input_canonical=True`` skips the
    palindrome-dedup exchange with identical output (r13 optimization);
    even k keeps the dedup because palindromes are real there."""
    from reflexiv_spark.operators.counter import count_kmers
    from reflexiv_spark.operators.counter_blocks import (
        blocks_to_kmer,
        count_kmers_blocks,
    )
    from reflexiv_spark.operators.counter_packed import (
        count_kmers_packed,
        packed_to_kmer,
    )
    from reflexiv_spark.pipelines.assemble import (
        expand_orientations,
        expand_orientations_blocks,
        expand_orientations_packed,
    )

    genome = random_genome(600, seed=11)
    seqs = simulate_reads(genome, read_len=90, coverage=15.0, seed=3)
    reads = spark.createDataFrame([(s,) for s in seqs], "seq string")

    # string variant, odd k
    counts = count_kmers(reads, 15, min_coverage=1, max_coverage=None)
    want = sorted(
        (r.kmer, r["count"]) for r in expand_orientations(counts).collect()
    )
    fast = expand_orientations(counts, 15, input_canonical=True)
    got = sorted((r.kmer, r["count"]) for r in fast.collect())
    assert got == want and want
    # multiset equality too: the skip must not rely on dedup
    assert len(got) == len(set(got))
    # the dedup exchange is gone from the optimized plan (one fewer
    # non-reused Exchange than the dedup form in the AQE-final plan;
    # the counting exchange remains)
    import re

    def _final_exchanges(df):
        df.count()  # force AQE finalization
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        return len(re.findall(r"(?<!Reused)Exchange hashpartitioning", final))

    slow = expand_orientations(counts)
    assert _final_exchanges(fast) == _final_exchanges(slow) - 1

    # packed variant, odd k <= 31
    pc = count_kmers_packed(reads, 15, min_coverage=1, max_coverage=None, decode=False)
    want_p = sorted(
        (r.kmer, r["count"])
        for r in expand_orientations_packed(pc, 15)
        .select(packed_to_kmer("kid", 15).alias("kmer"), "count")
        .collect()
    )
    got_p = sorted(
        (r.kmer, r["count"])
        for r in expand_orientations_packed(pc, 15, input_canonical=True)
        .select(packed_to_kmer("kid", 15).alias("kmer"), "count")
        .collect()
    )
    assert got_p == want_p == want

    # blocks variant, odd k > 31
    bc = count_kmers_blocks(reads, 41, min_coverage=1, max_coverage=None, decode=False)
    want_b = sorted(
        (r.kmer, r["count"])
        for r in expand_orientations_blocks(bc, 41)
        .select(blocks_to_kmer("kid", 41).alias("kmer"), "count")
        .collect()
    )
    got_b = sorted(
        (r.kmer, r["count"])
        for r in expand_orientations_blocks(bc, 41, input_canonical=True)
        .select(blocks_to_kmer("kid", 41).alias("kmer"), "count")
        .collect()
    )
    assert got_b == want_b and want_b

    # EVEN k: the canonical set can contain palindromes ("ACGT" is its
    # own RC) — the flag must NOT skip the dedup there
    pal_reads = spark.createDataFrame([("AAACGTT",)], "seq string")
    pal_counts = count_kmers(pal_reads, 4, min_coverage=1, max_coverage=None)
    rows = expand_orientations(pal_counts, 4, input_canonical=True).collect()
    kmers = [r.kmer for r in rows]
    assert len(kmers) == len(set(kmers))  # palindromes deduped
    assert "ACGT" in kmers
