"""Shared bucketed containment-index kernel.

One implementation of the "drop rows contained in a longer row" plan,
parameterized by the shingle transform (plain w-shingles for text,
canonical k-mers for DNA) and the verify predicate (substring vs
either-orientation substring). Used by both
:func:`reflexiv_spark.datapipe.dedup.drop_contained` (LLM-corpus text) and
:func:`reflexiv_spark.operators.dedup.drop_contained_contigs` (contigs,
generalizing ``ReflexivDSDynamicKmerDedup.java:203-280``'s marker scan).

Scale design: candidate generation exchanges only (id, 8-byte shingle
hash) pairs — the index side explodes ALL w-shingle hashes, the probe side
joins each row's MINIMUM hash (any container contains every shingle of the
containee, in particular its minimum; hash collisions only add candidates,
which the verify join removes), and bodies rejoin by id for the verify.
Rows shorter than ``w`` are broadcast against the full set.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from reflexiv_spark.plans.layout import spread


def contained_row_ids(
    df: DataFrame,
    text_col: str,
    id_col: str,
    w: int,
    shingles: Callable[[Column], Column],
    verify: Callable[[Column, Column], Column],
) -> DataFrame:
    """DataFrame[__id] of rows contained in a longer (or equal-length,
    smaller-id) row.

    Drop rule (deterministic): row d is listed iff some row D satisfies
    ``verify(D.body, d.body)`` and (``len(D) > len(d)``, or lengths are
    equal and ``D.id < d.id``).
    """
    t, i = F.col(text_col), F.col(id_col)
    # Checkpoint the projected base: 6 self-join branches hang off it, and
    # without the barrier Catalyst inlines any expensive caller
    # expressions into each branch's per-shingle lambda (recomputing them
    # per array element). It is lazy only in part: with AQE the call runs
    # the spread's repartition stage, and the first consumer's job the
    # last stage. Mirrors the reference's DISK_ONLY persist before
    # its dedup fan-out (``ReflexivDSDynamicKmerDedup.java:200``).
    base = spread(
        df.select(i.alias("__id"), t.alias("__body"), F.length(t).alias("__len"))
    ).localCheckpoint(eager=False)
    long_rows = base.where(F.col("__len") >= w)
    short_rows = base.where((F.col("__len") < w) & (F.col("__len") > 0))

    hashed = F.array_distinct(
        F.transform(shingles(F.col("__body")), lambda x: F.xxhash64(x))
    )
    idx = long_rows.select(
        F.col("__id").alias("sup_id"),
        F.col("__len").alias("sup_len"),
        F.explode(hashed).alias("sh"),
    ).alias("supside")
    probe = long_rows.select(
        F.col("__id").alias("sub_id"),
        F.col("__len").alias("sub_len"),
        F.array_min(hashed).alias("sh"),
    ).alias("subside")
    len_pred = (F.col("supside.sup_id") != F.col("subside.sub_id")) & (
        (F.col("supside.sup_len") > F.col("subside.sub_len"))
        | (
            (F.col("supside.sup_len") == F.col("subside.sub_len"))
            & (F.col("supside.sup_id") < F.col("subside.sub_id"))
        )
    )
    cand = (
        probe.join(idx, F.col("subside.sh") == F.col("supside.sh"))
        .where(len_pred)
        .select("sub_id", "sup_id")
        .dropDuplicates()
    )
    sub_bodies = long_rows.select(
        F.col("__id").alias("sub_id"), F.col("__body").alias("sub_body")
    )
    sup_bodies = long_rows.select(
        F.col("__id").alias("sup_id"), F.col("__body").alias("sup_body")
    )
    dropped_long = (
        cand.join(sub_bodies, "sub_id")
        .join(sup_bodies, "sup_id")
        .where(verify(F.col("sup_body"), F.col("sub_body")))
        .select(F.col("sub_id").alias("__id"))
    )
    # Short rows are rare and tiny by definition: broadcast them against
    # the full set. Both sides derive from `base` — alias-qualify to avoid
    # self-join attribute ambiguity.
    short_probe = short_rows.select(
        F.col("__id").alias("sub_id"),
        F.col("__body").alias("sub_body"),
        F.col("__len").alias("sub_len"),
    ).alias("subside")
    dropped_short = (
        base.alias("supside")
        .join(F.broadcast(short_probe))
        .where(
            (F.col("supside.__id") != F.col("subside.sub_id"))
            & (
                (F.col("supside.__len") > F.col("subside.sub_len"))
                | (
                    (F.col("supside.__len") == F.col("subside.sub_len"))
                    & (F.col("supside.__id") < F.col("subside.sub_id"))
                )
            )
            & verify(F.col("supside.__body"), F.col("subside.sub_body"))
        )
        .select(F.col("subside.sub_id").alias("__id"))
    )
    return dropped_long.unionByName(dropped_short).distinct()
