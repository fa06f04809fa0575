"""Long-block 2-bit packed k-mers for k > 31 — the reference's dynamic
long-k encoding re-expressed on DataFrame columns.

The reference packs long k-mers as arrays of longs, 31 bases per long
plus a C-marker length bit (``ReflexivDSDynamicKmerRuduction.java:
3220-3241``), which is what makes its k=41..95 ladder rounds cheap.
Here the same idea is a fixed-length ``array<long>`` column: block j
holds bases [31j, 31j+len_j) right-aligned as a base-4 number
(len_j = 31 for every block except the last). Because every k-mer of a
given k has identical per-block digit counts, **lexicographic array
comparison equals base-string comparison** — so canonical picks,
fork tie-breaks, and window orderings all match the string path bit
for bit, exactly as the k ≤ 31 scalar packing does
(:mod:`reflexiv_spark.operators.counter_packed`).

Shuffle shape at k=41: 2 longs per k-mer (~40 B UnsafeRow) vs a 41-char
ASCII string (~56 B); at k=95 it is 4 longs (~56 B) vs ~104 B. All
block manipulation (reverse complement, sub-k-mer keys, decode) is pure
Catalyst shift/mask expressions generated per (k, overlap) at plan
time — no Python in the hot path; only the counting encode crosses to
numpy, Arrow-batched, one column per block (the shared counting kernel,
:func:`reflexiv_spark.operators._codec.count_ids`; the assembly stages run
over these ids through :data:`reflexiv_spark.operators._codec.BLOCKS`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reflexiv_spark.operators.counter import (
    DEFAULT_MAX_COVERAGE,
    DEFAULT_MIN_COVERAGE,
)
from reflexiv_spark.operators.counter_packed import (
    kmer_to_packed,
    packed_to_kmer,
    revcomp_packed,
)

BASES_PER_BLOCK = 31


def block_lens(k: int) -> list[int]:
    """Per-block digit counts: [31, 31, ..., remainder]."""
    nb = (k + BASES_PER_BLOCK - 1) // BASES_PER_BLOCK
    return [BASES_PER_BLOCK] * (nb - 1) + [k - BASES_PER_BLOCK * (nb - 1)]


# ---------------------------------------------------------------------------
# digit-chunk expression algebra
#
# A "chunk list" is [(Column, n_digits)], a base-4 digit string split
# across right-aligned longs. All block operators below are compile-time
# loops that emit plain shift/mask Catalyst expressions over it.
# ---------------------------------------------------------------------------


def _chunks_of(col: Column | str, k: int) -> list[tuple[Column, int]]:
    c = F.col(col) if isinstance(col, str) else col
    return [
        (F.element_at(c, j + 1), ln) for j, ln in enumerate(block_lens(k))
    ]


def _rechunk(
    chunks: list[tuple[Column, int]], target_lens: list[int]
) -> list[Column]:
    """Repartition the leading sum(target_lens) digits of ``chunks``
    into longs of the given digit counts (big-number shifts, generated
    at plan time)."""
    out: list[Column] = []
    si, soff = 0, 0
    for tlen in target_lens:
        acc: Column | None = None
        need = tlen
        while need > 0:
            expr, ln = chunks[si]
            take = min(need, ln - soff)
            drop_right = ln - soff - take
            piece = (
                F.shiftrightunsigned(expr, 2 * drop_right)
                if drop_right
                else expr
            )
            piece = piece.bitwiseAND(F.lit((1 << (2 * take)) - 1))
            acc = (
                piece
                if acc is None
                else F.shiftleft(acc, 2 * take).bitwiseOR(piece)
            )
            need -= take
            soff += take
            if soff == ln:
                si, soff = si + 1, 0
        out.append(acc)
    return out


def _drop_digits(
    chunks: list[tuple[Column, int]], skip: int
) -> list[tuple[Column, int]]:
    """Chunk list for the digit string with its first ``skip`` digits
    removed (mask only — no shifts)."""
    out: list[tuple[Column, int]] = []
    for expr, ln in chunks:
        if skip >= ln:
            skip -= ln
            continue
        if skip > 0:
            keep = ln - skip
            out.append(
                (expr.bitwiseAND(F.lit((1 << (2 * keep)) - 1)), keep)
            )
            skip = 0
        else:
            out.append((expr, ln))
    return out


def _chunks_to_str(chunks: list[tuple[Column, int]]) -> Column:
    """Digit chunks → A/C/G/T string (JVM-side conv/lpad/translate)."""
    parts = [packed_to_kmer(expr, ln) for expr, ln in chunks]
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def kmer_to_blocks(col: Column | str, k: int) -> Column:
    """A/C/G/T string of length k → block array, JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    parts = []
    pos = 1
    for ln in block_lens(k):
        parts.append(kmer_to_packed(c.substr(F.lit(pos), F.lit(ln)), ln))
        pos += ln
    return F.array(*parts)


def blocks_to_kmer(col: Column | str, k: int) -> Column:
    """Block array → A/C/G/T string of length k, JVM-side."""
    return _chunks_to_str(_chunks_of(col, k))


def revcomp_blocks(col: Column | str, k: int) -> Column:
    """Reverse complement over block arrays — ``revcomp_packed`` of each
    block in reverse block order, then one cross-block rechunk. Pure
    Catalyst."""
    rev = [(revcomp_packed(e, ln), ln) for e, ln in _chunks_of(col, k)[::-1]]
    return F.array(*_rechunk(rev, block_lens(k)))


def canonical_blocks(col: Column | str, k: int) -> Column:
    """min(kmer, revcomp) on block arrays == the string canonical pick
    (array ordering is digit-lexicographic for fixed k)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.least(c, revcomp_blocks(c, k))


def prefix_key_blocks(col: Column | str, k: int, o: int) -> Column:
    """First ``o`` bases as a canonical (31,31,...,rem) block array —
    the forward sub-k-mer join/group key."""
    return F.array(*_rechunk(_chunks_of(col, k), block_lens(o)))


def suffix_key_blocks(col: Column | str, k: int, o: int) -> Column:
    """Last ``o`` bases as a canonical block array — the reflected
    sub-k-mer key. Rechunked to the same layout as the prefix key so a
    successor's prefix equals its predecessor's suffix, like the
    string keys do."""
    return F.array(
        *_rechunk(_drop_digits(_chunks_of(col, k), k - o), block_lens(o))
    )


def suffix_str_blocks(col: Column | str, k: int, o: int) -> Column:
    """Last ``k - o`` bases decoded to a string — the per-k-mer tail
    appended during final path assembly."""
    return _chunks_to_str(_drop_digits(_chunks_of(col, k), o))


def count_kmers_blocks(
    reads: DataFrame,
    k: int,
    seq_col: str = "seq",
    min_coverage: int = DEFAULT_MIN_COVERAGE,
    max_coverage: int = DEFAULT_MAX_COVERAGE,
    decode: bool = True,
) -> DataFrame:
    """Canonical k-mer counts for any k via block packing.

    Same semantics as ``count_kmers`` / ``count_kmers_packed``; the
    Arrow transfer is one int64 column per block (fully columnar), and
    the count shuffle carries the block array instead of the ASCII
    k-mer. ``decode=False`` keeps DataFrame[kid: array<long>, count]
    for the downstream block operators.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from reflexiv_spark.operators._codec import BLOCKS, count_ids

    return count_ids(BLOCKS, reads, k, seq_col, min_coverage, max_coverage, decode)
