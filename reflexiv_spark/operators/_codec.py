"""K-mer id codecs: the one place the string, 2-bit packed and long-block
k-mer forms differ.

The reference carries one 2-bit encoding through its whole pipeline — a
long per k-mer for k ≤ 31, an array of longs above that
(``ReflexivDataFrameCounter.java:513-525``,
``ReflexivDSDynamicKmerRuduction.java:3220-3241``). Here every assembly
stage (count, RC expansion, fork pruning, pointer-doubling rank, final
assembly) is written once over a :class:`KmerCodec`, which holds only the
format: encode/decode, reverse complement, prefix/suffix sub-k-mer keys,
tail decode, rank-loop row size, and whether the ids are block arrays
(whose rank loop rides xxhash64 proxy ids).

The per-format public names (``count_kmers_packed``,
``rank_paths_blocks``, ``assemble_from_packed_counts``, ...) are thin entry
points over those kernels. Pipelines reach them through
:meth:`KmerCodec.public` — a module-attribute lookup at call time, never a
function reference held here — so wrappers installed on those module
attributes (tracing spans, test spies) see every call.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reflexiv_spark.functions import kmer as sk
from reflexiv_spark.functions.kmer import _col
from reflexiv_spark.operators import counter_blocks as cb
from reflexiv_spark.operators import counter_packed as cp
from reflexiv_spark.plans.layout import spread

ColFn = Callable[..., Column]


@dataclass(frozen=True)
class KmerCodec:
    """One k-mer id format. Column functions take ``(col, k)`` or, for
    the sub-k-mer ones, ``(col, k, o)`` with ``o`` the overlap."""

    entry: str  # suffix of the public per-format names: "", "_packed", "_blocks"
    col: str  # id column name
    encode: ColFn  # A/C/G/T string -> id
    decode: ColFn  # id -> A/C/G/T string
    revcomp: ColFn  # id -> id of the reverse complement
    prefix_key: ColFn  # key of the first o bases
    suffix_key: ColFn  # key of the last o bases, laid out like prefix_key
    suffix_str: ColFn  # last k - o bases as a string (path-assembly tail)
    row_bytes: Callable[[int], int]  # rank-loop state row estimate at k
    # ids are array<long> blocks: counted from one column per block, and
    # the rank loop rides xxhash64 proxy ids instead of the arrays
    array_ids: bool = False

    def public(self, module, template: str):
        """This codec's public entry point ``template.format(entry)`` in
        ``module``, looked up now (not bound at import)."""
        return getattr(module, template.format(self.entry))

    def count(self, reads: DataFrame, k: int, **kw) -> DataFrame:
        """Canonical counts keyed by this codec's id column, through its
        public counter ``operators.counter{entry}.count_kmers{entry}``."""
        module = f"reflexiv_spark.operators.counter{self.entry}"
        fn = self.public(importlib.import_module(module), "count_kmers{}")
        if self is not STRING:
            kw["decode"] = False
        return fn(reads, k, **kw)


STRING = KmerCodec(
    "",
    "kmer",
    encode=lambda c, k: _col(c),
    decode=lambda c, k: _col(c),
    revcomp=lambda c, k: sk.reverse_complement(c),
    prefix_key=lambda c, k, o: sk.prefix_subkmer(c, o + 1),
    suffix_key=lambda c, k, o: sk.suffix_subkmer(c, o + 1),
    suffix_str=lambda c, k, o: _col(c).substr(F.lit(o + 1), F.length(c)),
    # two k-char k-mers + a long
    row_bytes=lambda k: 2 * (k + 24) + 8,
)

PACKED = KmerCodec(
    "_packed",
    "kid",
    encode=cp.kmer_to_packed,
    decode=cp.packed_to_kmer,
    revcomp=cp.revcomp_packed,
    prefix_key=lambda c, k, o: F.shiftrightunsigned(c, 2 * (k - o)),
    suffix_key=lambda c, k, o: _col(c).bitwiseAND(F.lit((1 << (2 * o)) - 1)),
    suffix_str=lambda c, k, o: cp.packed_to_kmer(
        _col(c).bitwiseAND(F.lit((1 << (2 * (k - o))) - 1)), k - o
    ),
    # three longs (~32 B unsafe); 64 B leaves 2x slack for the broadcast
    # hash relation
    row_bytes=lambda k: 64,
)

BLOCKS = KmerCodec(
    "_blocks",
    "kid",
    encode=cb.kmer_to_blocks,
    decode=cb.blocks_to_kmer,
    revcomp=cb.revcomp_blocks,
    prefix_key=cb.prefix_key_blocks,
    suffix_key=cb.suffix_key_blocks,
    suffix_str=cb.suffix_str_blocks,
    # two array<long> pointers + an offset (the array-id loop)
    row_bytes=lambda k: 48 + 16 * len(cb.block_lens(k)),
    array_ids=True,
)


def codec_for(k: int, packed: bool) -> KmerCodec:
    """Strings unless ``packed``; packed ids are one long up to k = 31 and
    long blocks above."""
    if not packed:
        return STRING
    return PACKED if k <= 31 else BLOCKS


# byte value -> 2-bit code; 255 marks every non-ACGT byte (invalid)
_CODE = np.full(256, 255, dtype=np.uint8)
for _b, _c in zip(b"ACGT", range(4)):
    _CODE[_b] = _c
for _b, _c in zip(b"acgt", range(4)):
    _CODE[_b] = _c


def _pack_batch(seqs, k: int) -> np.ndarray:
    """All canonical k-mers of a batch as an (n, n_blocks) int64 matrix —
    one column for k ≤ 31.

    Sequences are joined into ONE byte buffer with a separator so every
    numpy op runs once per batch; windows crossing a separator or any
    non-ACGT byte are masked out via a rolling validity count. Each block
    is a rolling encode; the reverse complement reuses the complemented-
    reversed buffer (window i's RC starts at position m-k-i there, which
    is the same rolling array read backwards). The matrix is a transposed
    view, so each block column is contiguous.
    """
    lens = cb.block_lens(k)
    nb = len(lens)
    joined = b"\x00".join(s.encode() for s in seqs if s)
    if len(joined) < k:
        return np.empty((0, nb), dtype=np.int64)
    codes = _CODE[np.frombuffer(joined, dtype=np.uint8)]
    n = len(codes) - k + 1

    valid = (codes != 255).astype(np.int64)
    run = np.cumsum(valid)
    # window i (0-based) valid iff all k bytes are ACGT
    ok = (run[k - 1 :] - np.concatenate(([0], run[: n - 1]))) == k
    if not ok.any():
        return np.empty((0, nb), dtype=np.int64)

    c = np.where(codes == 255, 0, codes).astype(np.int64)
    c2 = (3 - c)[::-1]
    # block j of every window, accumulated in place one base at a time
    fwd = np.zeros((nb, n), dtype=np.int64)
    rev = np.zeros((nb, n), dtype=np.int64)
    start = 0
    for j, ln in enumerate(lens):
        for acc, src in ((fwd[j], c), (rev[j], c2)):
            for idx in range(start, start + ln):
                acc <<= 2
                acc |= src[idx : idx + n]
        start += ln
    rc = rev[:, ::-1]

    # canonical = lexicographic min over the blocks: the first block that
    # differs decides
    use_rc = np.zeros(n, dtype=bool)
    for j in reversed(range(nb)):
        use_rc = np.where(rc[j] == fwd[j], use_rc, rc[j] < fwd[j])
    return np.where(use_rc, rc, fwd)[:, ok].T


def count_ids(
    codec: KmerCodec,
    reads: DataFrame,
    k: int,
    seq_col: str,
    min_coverage: int | None,
    max_coverage: int | None,
    decode: bool,
) -> DataFrame:
    """Canonical k-mer counts keyed by ``codec`` ids — the one counting
    kernel behind ``count_kmers_packed`` and ``count_kmers_blocks``.

    An Arrow-batched numpy encode (the only Python crossing) emits one
    int64 column per block; the count shuffle then carries the packed id
    instead of the ASCII k-mer. Returns DataFrame[kid, count], or
    DataFrame[kmer, count] with ``decode`` (JVM-side decode).
    """
    if codec.array_ids:
        cols = [f"b{j}" for j in range(len(cb.block_lens(k)))]
    else:
        cols = ["kid"]

    def encode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            m = _pack_batch(pdf["seq"], k)
            yield pd.DataFrame({c: m[:, j] for j, c in enumerate(cols)})

    src = spread(reads.select(F.col(seq_col).alias("seq")))
    ids = src.mapInPandas(encode, schema=", ".join(f"{c} long" for c in cols))
    if codec.array_ids:
        ids = ids.select(F.array(*cols).alias("kid"))
    counts = ids.groupBy("kid").agg(F.count(F.lit(1)).alias("count"))
    # None bounds mean "no floor/ceiling", matching count_kmers — a literal
    # None comparison would evaluate NULL and silently drop every row.
    if min_coverage is not None and min_coverage > 1:
        counts = counts.where(F.col("count") >= min_coverage)
    if max_coverage is not None:
        counts = counts.where(F.col("count") <= max_coverage)
    if not decode:
        return counts
    return counts.select(codec.decode("kid", k).alias("kmer"), "count")
