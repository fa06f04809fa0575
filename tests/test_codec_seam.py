"""The k-mer codec seam: every assembly stage is one kernel over a codec
(ASCII strings, 2-bit packed int64 for k ≤ 31, long-block arrays at any
k), so each codec that accepts an input must give identical stage outputs
— including at the 31/32 encoding switch and on the edge inputs the packed
forms are most likely to get wrong."""

from __future__ import annotations

import pytest

from tests.conftest import (
    brute_force_kmer_counts,
    random_genome,
    revcomp,
    simulate_reads,
)


def _seam_reads(case: str, k: int) -> list[str]:
    g = random_genome(300, seed=k)
    if case == "genome":
        # an N read (its windows are dropped) and a 32 bp palindrome (a
        # k-mer that is its own reverse complement at k=32)
        half = random_genome(16, seed=3)
        return simulate_reads(g, read_len=90, coverage=10.0, seed=k) + [
            g[:40] + "N" + g[41:130],
            half + revcomp(half) + g[200:260],
        ]
    if case == "circular":
        ring = g + g[:89]
        return [ring[i : i + 90] for i in range(0, len(g), 10)]
    if case == "single":
        return [g[:k]]
    return []  # empty


def _stage_outputs(codec, reads, k):
    """count → expand → prune → rank through the codec's public entry
    points, every stage decoded to strings."""
    from reflexiv_spark.operators import extension
    from reflexiv_spark.operators._codec import STRING
    from reflexiv_spark.pipelines import assemble as asm

    c = codec.col

    def decoded(df):
        df = df.select(codec.decode(c, k).alias("kmer"), "count")
        return sorted((r.kmer, r["count"]) for r in df.collect())

    counts = codec.count(reads, k, min_coverage=1, max_coverage=None)
    counts = counts.localCheckpoint()
    expanded = codec.public(asm, "expand_orientations{}")(
        counts, k, input_canonical=True
    ).localCheckpoint()
    pruned = codec.public(asm, "prune_forks{}")(
        expanded, k, min_error_coverage=2
    ).localCheckpoint()
    kw = {"packed": False} if codec is STRING else {}
    ranked = codec.public(extension, "rank_paths{}")(
        pruned.select(c, "count"), k, **kw
    )
    return {
        "count": decoded(counts),
        "expand": decoded(expanded),
        "prune": decoded(pruned),
        "rank": sorted(tuple(r) for r in ranked.collect()),
    }


@pytest.mark.parametrize(
    "case,k",
    [
        ("genome", 29),
        ("genome", 31),
        ("genome", 32),
        ("genome", 33),
        ("circular", 31),
        ("single", 31),
        ("single", 32),
        ("empty", 31),
    ],
)
def test_codecs_give_identical_stage_outputs(spark, case, k):
    """The codec seam: every k-mer codec that accepts the input (string
    always, packed int64 up to k=31, long blocks at any k) yields the same
    count, RC-expansion, fork-pruning and rank output — across the 31/32
    encoding switch, an even k with a palindromic k-mer (dedup not
    elided), N-containing reads, a circular genome (its cycles are
    dropped), and empty / single-k-mer input."""
    from reflexiv_spark.operators._codec import BLOCKS, PACKED, STRING
    from reflexiv_spark.operators.extension import rank_paths

    seqs = _seam_reads(case, k)
    reads = spark.createDataFrame([(s,) for s in seqs], "seq string")
    codecs = [STRING, BLOCKS] + ([PACKED] if k <= 31 else [])
    want = _stage_outputs(STRING, reads, k)
    for codec in codecs[1:]:
        assert _stage_outputs(codec, reads, k) == want, codec.entry

    assert dict(want["count"]) == brute_force_kmer_counts(seqs, k)
    expanded = [km for km, _ in want["expand"]]
    assert len(expanded) == len(set(expanded))  # palindromes kept once
    if case == "genome" and k == 32:
        assert any(km == revcomp(km) for km in expanded)
    if case == "circular":
        assert want["prune"] and not want["rank"]
    if case == "single":
        assert len(want["rank"]) == 2  # the k-mer and its reverse complement
    if case == "empty":
        assert not any(want.values())
    if case == "genome" and k == 31:
        # a non-ACGT k-mer defeats packing: rank_paths' auto-detect must
        # take the string fallback (the N^k row is a self-loop, dropped)
        pruned = spark.createDataFrame(
            want["prune"] + [("N" * k, 1)], "kmer string, count long"
        )
        assert sorted(tuple(r) for r in rank_paths(pruned, k).collect()) == (
            want["rank"]
        )
