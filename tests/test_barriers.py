"""Barrier and layout helpers, pinned to how this Spark stack behaves.

``localCheckpoint(eager=False)`` is not free at call time here: with AQE
on, Spark plans the checkpoint's query adaptively and runs every shuffle
stage below it when ``localCheckpoint`` is called; only the last stage
waits for the first action. The helpers the one-partition assembly path
rests on are pinned beside it.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _jobs(spark, group, fn):
    """(fn(), job ids fn submitted) under a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_lazy_checkpoint_runs_upstream_shuffle_stages(spark):
    """A lazy checkpoint over an aggregate submits a job before any
    action: the aggregate's shuffle stage runs at the call."""
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("m")).count()
    ckpt, jobs = _jobs(
        spark, "test-lazy-ckpt", lambda: df.localCheckpoint(eager=False)
    )
    assert len(jobs) >= 1, jobs
    assert ckpt.count() == 7


def test_count_rows_is_one_job(spark):
    """``count_rows`` counts a checkpoint in one job, where ``count()``
    takes an aggregate Exchange and two."""
    from reflexiv_spark.plans.partitions import count_rows

    df = spark.range(0, 5000, 1, 4).localCheckpoint()
    n, jobs = _jobs(spark, "test-count-rows", lambda: count_rows(df))
    assert n == 5000 and len(jobs) == 1, jobs
    assert count_rows(df.where("id < 0")) == 0


def test_in_one_partition(spark):
    from reflexiv_spark.plans.partitions import in_one_partition

    df = spark.range(0, 100, 1, 4)
    one = df.coalesce(1)
    assert not in_one_partition(df)
    assert in_one_partition(one)
    # narrow operators, a union of single-partition sides and an
    # aggregate keep it; a checkpoint of an adaptively planned query (an
    # aggregate's) drops it: AQE reports an unknown partitioning
    both = one.unionByName(one.select((F.col("id") + 100).alias("id")))
    grouped = both.groupBy((F.col("id") % 3).alias("m")).count()
    assert in_one_partition(grouped.where("count > 0"))
    assert not in_one_partition(grouped.localCheckpoint(eager=False))
