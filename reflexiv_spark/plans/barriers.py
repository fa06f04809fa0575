"""Iteration barriers: lineage truncation + size-statistics reset.

``localCheckpoint`` truncates the logical plan but *preserves* the
child's estimated statistics in the resulting ``LogicalRDD``
(``originStats``). In an iterative self-join — pointer doubling,
hash-to-min connected components, contraction rounds — the join's
estimated ``sizeInBytes`` is the PRODUCT of its children's, so the
estimate SQUARES every round and the preserved BigInt doubles in bit
length per iteration. After a few dozen compounded rounds (e.g. a
multi-k assembly ladder) every plan-time stats visit multiplies
million-bit BigIntegers and the driver spends minutes per round in
``SizeInBytesOnlyStatsPlanVisitor`` while executors sit idle — measured
here as a 3×-per-round wall-time blowup on a 1,878-row input.

:func:`reset_stats` rebuilds the DataFrame over the same (checkpointed)
``RDD[InternalRow]`` WITHOUT origin stats, so each round's estimate
restarts from the engine default instead of compounding. Zero data
movement: it is plan surgery, not a job. The estimate it discards was
astronomically wrong anyway (the true row count is ~constant across
rounds; the squared estimate says otherwise), and the default estimate
keeps the loop's joins on the shuffle-hash/sort-merge path — exactly
right for the data-proportional state these loops carry.

"Lazy" barriers are lazy only in part on this stack (Spark 4.1, AQE on):
``localCheckpoint(eager=False)`` plans its query adaptively and runs every
shuffle stage below it when it is CALLED; only the last stage waits for
the first action (``tests/test_barriers.py`` pins it). A lazy barrier
over a shuffle therefore costs a job at the call, and one over an
exchange-free plan costs none. A checkpoint also drops a single-partition
plan's partitioning when the plan was adaptive, so code that needs one
partition after a barrier re-coalesces
(:mod:`reflexiv_spark.plans.partitions`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def reset_stats(df: DataFrame) -> DataFrame:
    """Same rows, same (possibly lazily-checkpointed) RDD, no inherited
    size statistics. Falls back to the public Row-converting
    ``createDataFrame(JavaRDD, schema)`` if the zero-copy internal
    constructor is unavailable, and to the input unchanged if both are
    (correctness never depends on this helper)."""
    spark = df.sparkSession
    jdf = df._jdf
    try:
        jrdd = jdf.queryExecution().toRdd()
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        return DataFrame(new_jdf, spark)
    except Exception:  # noqa: BLE001 — py4j surface varies by version
        try:
            new_jdf = spark._jsparkSession.createDataFrame(
                jdf.toJavaRDD(), jdf.schema()
            )
            return DataFrame(new_jdf, spark)
        except Exception:  # noqa: BLE001
            return df


def iteration_barrier(df: DataFrame, eager: bool = True) -> DataFrame:
    """The per-round barrier every iterative loop should use:
    ``localCheckpoint`` (cut lineage, persist executor-local) +
    :func:`reset_stats` (stop the size-estimate squaring)."""
    return reset_stats(df.localCheckpoint(eager=eager))
