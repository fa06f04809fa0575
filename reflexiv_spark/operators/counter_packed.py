"""2-bit packed k-mer ids for k ≤ 31 — one signed long per k-mer.

The reference packs k-mers into longs inside Java ``mapPartitions``
closures (2 bits/base, canonical pick = numeric min of forward/RC,
``ReflexivDataFrameCounter.java:448-525``). This module holds that
format's column algebra — encode, decode, reverse complement, canonical
pick — as JVM-side Catalyst expressions, and the ``count_kmers_packed``
entry point of the shared counting kernel
(:func:`reflexiv_spark.operators._codec.count_ids`): an Arrow-batched
numpy rolling encode emits canonical packed ``bigint`` ids, the count is a
``groupBy`` over 8-byte longs (≈4× smaller shuffle than 31-char strings),
and the decode back to A/C/G/T strings is ``conv`` to base 4 +
``translate``, so only the encode crosses into Python. With
``decode=False`` the ids flow on through the packed assembly stages
(:data:`reflexiv_spark.operators._codec.PACKED`).

Numeric canonical == lexicographic canonical because the 2-bit code
A=00 < C=01 < G=10 < T=11 is order-isomorphic to the alphabet
(``ReflexivDataFrameCounter.java:502-506``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reflexiv_spark.operators.counter import (
    DEFAULT_MAX_COVERAGE,
    DEFAULT_MIN_COVERAGE,
)


def kmer_to_packed(col, k: int):
    """A/C/G/T string of length ``k`` → 2-bit packed bigint, JVM-side.

    ``conv(translate(kmer,'ACGT','0123'), 4, 10)`` — injective for
    fixed-length pure-ACGT input, order-isomorphic to the string order
    (the reference's encoding, ``ReflexivDataFrameCounter.java:513-525``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.translate(c, "ACGT", "0123"), 4, 10).cast("long")


# bit-reversal masks for reversing 2-bit groups across a 64-bit word
_M2 = 0x3333333333333333
_M4 = 0x0F0F0F0F0F0F0F0F
_M8 = 0x00FF00FF00FF00FF
_M16 = 0x0000FFFF0000FFFF


def _bitrev2(x: Column) -> Column:
    """Reverse the 32 2-bit groups of a 64-bit word (mask-swap)."""
    for mask, n in ((_M2, 2), (_M4, 4), (_M8, 8), (_M16, 16)):
        x = F.shiftleft(x.bitwiseAND(F.lit(mask)), n).bitwiseOR(
            F.shiftrightunsigned(x, n).bitwiseAND(F.lit(mask))
        )
    return F.shiftleft(x, 32).bitwiseOR(F.shiftrightunsigned(x, 32))


def revcomp_packed(col, k: int):
    """Reverse complement of a packed k-mer — pure Catalyst bit ops (C3).

    Complement is XOR with 2k ones (A=00↔T=11, C=01↔G=10); base-order
    reversal is the classic mask-and-swap 2-bit-group reversal of the
    full word, then a logical shift down by (64-2k). ~12 codegen'd
    integer ops, no strings (reference does the same in Java:
    ``ReflexivDSKmerLeftAndRightSorting.java:1569-1665``).
    """
    x = F.col(col) if isinstance(col, str) else col
    x = x.bitwiseXOR(F.lit((1 << (2 * k)) - 1))
    return F.shiftrightunsigned(_bitrev2(x), 64 - 2 * k)


def canonical_packed(col, k: int):
    """min(kmer, revcomp(kmer)) on packed values — equals the string
    canonical pick because the 2-bit code is order-isomorphic (C2)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.least(c, revcomp_packed(c, k))


def packed_to_kmer(col, k: int):
    """bigint packed k-mer → A/C/G/T string, JVM-side.

    ``conv`` renders the value in base 4; ``lpad`` restores leading A
    (zero) digits; ``translate`` maps digits to bases.
    """
    return F.translate(
        F.lpad(F.conv(F.col(col) if isinstance(col, str) else col, 10, 4), k, "0"),
        "0123",
        "ACGT",
    )


def count_kmers_packed(
    reads: DataFrame,
    k: int,
    seq_col: str = "seq",
    min_coverage: int = DEFAULT_MIN_COVERAGE,
    max_coverage: int = DEFAULT_MAX_COVERAGE,
    decode: bool = True,
) -> DataFrame:
    """Canonical k-mer counts over packed ids (k ≤ 31).

    Same semantics as :func:`reflexiv_spark.operators.counter.count_kmers`
    (canonical counting with coverage band); ``decode=False`` keeps the
    packed ``bigint`` id as DataFrame[kid, count] — the shape the packed
    assembly stages consume, and what a 100 TB shuffle wants to carry.
    """
    if not 1 <= k <= 31:
        raise ValueError("packed path supports 1 <= k <= 31 (2 bits/base in int64)")
    from reflexiv_spark.operators._codec import PACKED, count_ids

    return count_ids(PACKED, reads, k, seq_col, min_coverage, max_coverage, decode)
