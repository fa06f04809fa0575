"""Reduction / dedup / mercy / merger / fixing operator tests with planted
ground truth (FIXTURES.md strategy: brute-force python oracles)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import brute_force_kmer_counts, random_genome, revcomp

from reflexiv_spark.operators.dedup import dedup_contigs, drop_contained_contigs
from reflexiv_spark.operators.fixing import fix_junctions, junction_support
from reflexiv_spark.operators.mercy import mercy_kmers
from reflexiv_spark.operators.merger import merge_contigs, overlap_pairs
from reflexiv_spark.operators.reduction import reduce_kmer_ladder, reduce_kmer_sets


def _canon(s: str) -> str:
    return min(s, revcomp(s))


class TestReduction:
    def test_reduce_drops_end_covered_shorts(self, spark):
        genome = random_genome(400, seed=3)
        counts11 = brute_force_kmer_counts([genome], 11)
        counts15 = brute_force_kmer_counts([genome], 15)
        df11 = spark.createDataFrame(list(counts11.items()), "kmer string, count long")
        df15 = spark.createDataFrame(list(counts15.items()), "kmer string, count long")
        out = reduce_kmer_sets(df11, df15, 11, 15).collect()

        ends = set()
        for km in counts15:
            ends.add(_canon(km[:11]))
            ends.add(_canon(km[-11:]))
        expected_short = {k for k in counts11 if k not in ends}
        got_short = {r.kmer for r in out if r.k == 11}
        got_long = {r.kmer for r in out if r.k == 15}
        assert got_short == expected_short
        assert got_long == set(counts15)
        # on a random genome nearly every 11-mer is covered by a 15-mer end
        assert len(got_short) < len(counts11)

    def test_ladder_runs_and_keeps_top_k_complete(self, spark):
        genome = random_genome(300, seed=4)
        # a 14 bp fragment yields 11-mers that no 15-mer can cover — they
        # must survive the ladder at k=11
        frag = random_genome(14, seed=44)
        reads = spark.createDataFrame([(genome,), (frag,)], "seq string")
        out = reduce_kmer_ladder(
            reads, klist=(11, 15, 21), min_coverage=1
        ).collect()
        by_k = {}
        for r in out:
            by_k.setdefault(r.k, set()).add(r.kmer)
        # top k is complete
        assert by_k[21] == set(brute_force_kmer_counts([genome], 21))
        # the fragment's 11-mers survive unless they collide with a
        # 15-mer end from the genome (brute-force the end set)
        ends = set()
        for km in brute_force_kmer_counts([genome, frag], 15):
            ends.add(_canon(km[:11]))
            ends.add(_canon(km[-11:]))
        frag_kmers = set(brute_force_kmer_counts([frag], 11)) - ends
        assert frag_kmers  # fixture sanity: something must survive
        assert frag_kmers <= by_k.get(11, set())


class TestContigDedup:
    def test_drops_contained_and_rc_duplicates(self, spark):
        a = random_genome(500, seed=5)
        e = random_genome(480, seed=6)
        rows = [
            ("A", a),
            ("B", a[100:300]),          # contained
            ("C", revcomp(a[200:420])),  # RC-contained
            ("D", revcomp(a)),           # RC duplicate of A (same length)
            ("E", e),                    # unrelated
        ]
        df = spark.createDataFrame(rows, "contig_id string, seq string")
        kept = {r.contig_id for r in dedup_contigs(df).collect()}
        assert kept == {"A", "E"}

    def test_short_contig_broadcast_path(self, spark):
        a = random_genome(200, seed=7)
        rows = [("A", a), ("S", a[50:70])]  # S shorter than marker w=31
        df = spark.createDataFrame(rows, "contig_id string, seq string")
        kept = {r.contig_id for r in drop_contained_contigs(df, w=31).collect()}
        assert kept == {"A"}


class TestMercy:
    def test_gap_rule(self, spark):
        k = 15
        read = random_genome(120, seed=8)
        all_kmers = [read[i : i + k] for i in range(len(read) - k + 1)]
        # solid everywhere except: a wide gap (positions 20..59 missing →
        # g=39 > k+1 → emit) and an error-footprint gap (positions 80..94
        # missing → g=15 == k → skip)
        missing = set(range(20, 60)) | set(range(80, 95))
        solid = [
            (_canon(km),) for i, km in enumerate(all_kmers) if i not in missing
        ]
        reads_df = spark.createDataFrame([(read,)], "seq string")
        solid_df = spark.createDataFrame(solid, "kmer string")
        out = {r.kmer for r in mercy_kmers(reads_df, solid_df, k).collect()}
        expected = {_canon(all_kmers[i]) for i in range(20, 60)}
        assert out == expected  # wide gap rescued, error footprint skipped

    def test_no_gaps_no_mercy(self, spark):
        read = random_genome(80, seed=9)
        k = 15
        solid = [
            (_canon(read[i : i + k]),) for i in range(len(read) - k + 1)
        ]
        out = mercy_kmers(
            spark.createDataFrame([(read,)], "seq string"),
            spark.createDataFrame(solid, "kmer string"),
            k,
        )
        assert out.count() == 0


class TestMerger:
    def test_overlap_pairs_exact(self, spark):
        g = random_genome(300, seed=10)
        a, b = g[:180], g[120:]  # overlap 60
        df = spark.createDataFrame(
            [("A", a), ("B", b)], "contig_id string, seq string"
        )
        rows = overlap_pairs(df, min_overlap=60).collect()
        assert [(r.id_a, r.id_b, r.overlap) for r in rows] == [("A", "B", 60)]

    def test_merge_chain_reconstructs_genome(self, spark):
        g = random_genome(500, seed=11)
        pieces = [("P0", g[:200]), ("P1", g[120:350]), ("P2", g[280:])]
        df = spark.createDataFrame(pieces, "contig_id string, seq string")
        out = merge_contigs(df, min_overlap=60, rounds=3).collect()
        seqs = {r.seq for r in out}
        assert g in seqs  # chain merged into the full genome
        assert len(seqs) == 1  # pieces consumed / deduped away

    def test_no_false_merges(self, spark):
        a = random_genome(200, seed=12)
        b = random_genome(200, seed=13)
        df = spark.createDataFrame(
            [("A", a), ("B", b)], "contig_id string, seq string"
        )
        assert overlap_pairs(df, min_overlap=60).count() == 0


class TestFixing:
    def test_junction_support_counts(self, spark):
        j = random_genome(31, seed=14)
        rows = [
            ("up", random_genome(60, seed=15) + j),
            ("down", j + random_genome(60, seed=16)),
        ]
        df = spark.createDataFrame(rows, "contig_id string, seq string")
        sup = {r.kmer: (r.n_starts, r.n_ends) for r in junction_support(df).collect()}
        assert sup[j] == (1, 1)

    def test_unique_junction_fused_ambiguous_not(self, spark):
        j1 = random_genome(31, seed=17)
        j2 = random_genome(31, seed=18)
        up1 = random_genome(60, seed=19) + j1
        down1 = j1 + random_genome(60, seed=20)
        # ambiguous: two contigs start with j2
        up2 = random_genome(60, seed=21) + j2
        down2a = j2 + random_genome(60, seed=22)
        down2b = j2 + random_genome(60, seed=23)
        df = spark.createDataFrame(
            [(s,) for s in (up1, down1, up2, down2a, down2b)], "seq string"
        )
        out = {r.seq for r in fix_junctions(df, max_rounds=12).collect()}
        fused = up1 + down1[31:]
        assert fused in out
        assert up1 not in out and down1 not in out
        # ambiguous junction left untouched
        assert {up2, down2a, down2b} <= out

    def test_junction_cycle_passes_through_unfused(self, spark):
        """Round-12 ADVICE regression pin: a junction CYCLE (every
        member in/out-degree 1, no in-degree-0 anchor) passes through
        UNFUSED under the round-11 pointer-doubling kernel — the
        anchored-walk semantics the meta-ladder oracle defines (the
        old randomized contraction loop could fuse cycle members).
        Covers both a 2-contig and a 3-contig cycle, plus a normal
        chain and a 12-contig chain in the same frame to pin that
        anchored paths still fuse — the long one needs more doubling
        rounds than fit before the first barrier probe."""
        j1, j2 = random_genome(31, seed=41), random_genome(31, seed=42)
        mid2 = random_genome(40, seed=43)
        # 2-cycle: A = j1 … j2, B = j2 … j1 (A's tail is B's head and
        # vice versa; both junctions unique)
        cyc_a = j1 + mid2 + j2
        cyc_b = j2 + random_genome(40, seed=44) + j1
        # 3-cycle on fresh junction kmers
        k1, k2, k3 = (random_genome(31, seed=s) for s in (45, 46, 47))
        cyc_c = k1 + random_genome(40, seed=48) + k2
        cyc_d = k2 + random_genome(40, seed=49) + k3
        cyc_e = k3 + random_genome(40, seed=50) + k1
        # anchored chain sharing the frame: up → down over junction j3
        j3 = random_genome(31, seed=51)
        up = random_genome(60, seed=52) + j3
        down = j3 + random_genome(60, seed=53)
        # 12-contig chain over 11 unique junctions
        js = [random_genome(31, seed=60 + i) for i in range(11)]
        ends = [random_genome(40, seed=80)] + js + [random_genome(40, seed=81)]
        chain = [
            ends[i] + random_genome(30, seed=90 + i) + ends[i + 1]
            for i in range(12)
        ]
        df = spark.createDataFrame(
            [(s,) for s in (cyc_a, cyc_b, cyc_c, cyc_d, cyc_e, up, down, *chain)],
            "seq string",
        )
        out = {r.seq for r in fix_junctions(df, max_rounds=12).collect()}
        # cycle members pass through verbatim, no fused concatenation
        assert {cyc_a, cyc_b, cyc_c, cyc_d, cyc_e} <= out
        fused = up + down[31:]
        assert fused in out and up not in out and down not in out
        long_fused = chain[0] + "".join(c[31:] for c in chain[1:])
        assert long_fused in out and not set(chain) & out
        # nothing beyond the expected survivors (no duplicated fusions)
        assert out == {cyc_a, cyc_b, cyc_c, cyc_d, cyc_e, fused, long_fused}
