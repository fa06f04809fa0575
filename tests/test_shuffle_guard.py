"""Shuffle-payload regression guards for the contraction loop.

The packed pipelines' measured win (BASELINE.md: −42% wall / 1.5×
fewer shuffle bytes at sf1.0 for k≤31; 1.6× fewer bytes at k=41/61)
rests on the pointer-doubling state being FIXED-WIDTH: (kid, anc, off)
as three longs (~24 B/row) on the scalar path, and (array<long>[B],
array<long>[B], long) on the long-block path. These tests capture the
state DataFrame that actually enters ``_double_pointers`` and fail if
anyone reintroduces string payloads (or any variable-width column)
into the per-round exchange.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from tests.conftest import random_genome, simulate_reads


def _capture_loop_state(monkeypatch, run):
    import reflexiv_spark.operators.extension as ext

    captured = {}
    orig = ext._double_pointers

    def spy(state, *a, **kw):
        captured["schema"] = state.schema
        return orig(state, *a, **kw)

    monkeypatch.setattr(ext, "_double_pointers", spy)
    # pin the at-scale payload: a sub-gate state is walked in one task
    # and never reaches the shuffle rounds
    monkeypatch.setattr(ext, "_LOOP_BCAST_BYTES", 0)
    run()
    return captured["schema"]


def _counts(spark, k, seed=17):
    genome = random_genome(800, seed=seed)
    seqs = simulate_reads(genome, read_len=120, coverage=15.0, seed=seed)
    reads = spark.createDataFrame([(s,) for s in seqs], "seq string")
    from reflexiv_spark.functions.kmer import explode_kmers

    return (
        explode_kmers(reads, k)
        .groupBy("kmer")
        .agg(F.count(F.lit(1)).cast("int").alias("count"))
    )


def test_packed_rank_loop_state_is_three_longs(spark, monkeypatch):
    from reflexiv_spark.operators.extension import rank_paths

    k = 21
    counts = _counts(spark, k)
    schema = _capture_loop_state(
        monkeypatch, lambda: rank_paths(counts, k).count()
    )
    assert [f.name for f in schema.fields] == ["kid", "anc", "off"]
    for f in schema.fields:
        assert isinstance(f.dataType, LongType), (
            f"{f.name} is {f.dataType}: the packed loop must exchange "
            "8-byte longs only (~24 B/row)"
        )


def test_blocks_rank_loop_state_is_three_longs_hashed(spark, monkeypatch):
    """r13: the k>31 loop normally rides hashed pointer ids — three
    longs per row, like the scalar packed path — with the block arrays
    re-attached only at final assembly."""
    from reflexiv_spark.operators.extension import rank_paths

    k = 41
    counts = _counts(spark, k, seed=23)
    schema = _capture_loop_state(
        monkeypatch, lambda: rank_paths(counts, k).count()
    )
    assert [f.name for f in schema.fields] == ["kid", "anc", "off"]
    for f in schema.fields:
        assert isinstance(f.dataType, LongType), (
            f"{f.name} is {f.dataType}: the hashed k>31 loop must "
            "exchange 8-byte longs only (~24 B/row)"
        )


def test_blocks_rank_loop_array_fallback_is_long_blocks(spark, monkeypatch):
    """When the hashed-id proxy collides (here: a constant hash, so the
    injectivity check fails), the k>31 loop falls back to long-block
    array ids — never ASCII k-mers."""
    from reflexiv_spark.operators.extension import rank_paths

    k = 41
    counts = _counts(spark, k, seed=23)
    monkeypatch.setattr(F, "xxhash64", lambda *cols: F.lit(0).cast("long"))
    schema = _capture_loop_state(
        monkeypatch, lambda: rank_paths(counts, k).count()
    )
    assert [f.name for f in schema.fields] == ["kid", "anc", "off"]
    for f in schema.fields[:2]:
        assert isinstance(f.dataType, ArrayType) and isinstance(
            f.dataType.elementType, LongType
        ), (
            f"{f.name} is {f.dataType}: the k>31 loop must exchange "
            "long-block arrays, never ASCII k-mers"
        )
    assert isinstance(schema.fields[2].dataType, LongType)


def test_string_fallback_still_available(spark, monkeypatch):
    """Non-ACGT input must keep falling back to the string loop (the
    packed representations are injective only on fixed-length ACGT)."""
    from reflexiv_spark.operators.extension import rank_paths

    counts = spark.createDataFrame(
        [("ANCDE", 1), ("NCDEF", 1)], "kmer string, count int"
    )
    schema = _capture_loop_state(
        monkeypatch, lambda: rank_paths(counts, 5).count()
    )
    assert not isinstance(schema.fields[0].dataType, (LongType, ArrayType))


def test_iteration_barrier_stops_stats_squaring(spark):
    """Pin the plans/barriers.py mechanism: a self-join loop under plain
    ``localCheckpoint`` squares Catalyst's sizeInBytes estimate every
    round (the preserved originStats BigInt doubles in bit length —
    the round-6 ladder stall), while ``iteration_barrier`` keeps the
    estimate at the engine default. If ``reset_stats`` ever silently
    falls back to identity (its py4j surface moved), the barrier column
    here starts doubling and this test fails."""
    from reflexiv_spark.plans.barriers import iteration_barrier

    def bits(df):
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ).bit_length()

    df = spark.range(100).withColumnRenamed("id", "k")
    plain = df
    barr = df
    barrier_bits = []
    for _ in range(4):
        plain = (
            plain.alias("a").join(plain.alias("b"), "k")
            .localCheckpoint(eager=True)
        )
        barr = iteration_barrier(barr.alias("a").join(barr.alias("b"), "k"))
        barrier_bits.append(bits(barr))
    assert max(barrier_bits) <= 64, barrier_bits  # flat at engine default
    assert bits(plain) > 100  # the leak the barrier exists to prevent
    # rows are identical through the barrier (plan surgery, not a job)
    assert barr.count() == 100


def test_hll_register_exchange_is_register_sized(spark):
    """The HLL sketch's promise is a ≤ 2^p-row-per-group exchange with
    map-side partial max — if the register aggregation ever loses its
    partial_max (e.g. someone reshapes it into a distinct-then-count),
    the shuffle becomes key-set-sized and the sketch's 100 TB story is
    gone. Guard both the output bound and the partial aggregation."""
    from reflexiv_spark.datapipe.sketch import hll_registers

    df = spark.createDataFrame(
        [(f"g{i % 3}", f"key-{i}") for i in range(30000)], "g string, key string"
    )
    regs = hll_registers(df, "key", p=6, group_col="g")
    assert regs.count() <= 3 * 64  # groups × m registers, never keys
    plan = regs._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan, (
        "register max must partial-aggregate map-side before the exchange"
    )
