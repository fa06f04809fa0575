"""Stage barriers with ``_SUCCESS``-gated resume (K3) and export sinks (K1).

Reference: each pipeline step runs in its own SparkSession, materializes
gzipped CSV, and is skipped on restart when its ``_SUCCESS`` marker exists
(``Pipelines.java:481-555`` — existence check, recursive delete, rename;
step orchestration ``:613-830``). The deliberate lineage cut ("Spark
keeping shuffle intermediate results … splitting the long pipeline to
steps reduces storage", ``Pipelines.java:832-839``) is kept, but the
barrier format is Parquet (columnar, compressed, splittable, pushdown-able
on re-read) inside ONE long-lived session.

All filesystem operations go through the Hadoop FileSystem API of the
active session, so the same code works on local disk, HDFS, or object
stores — never ``os.path`` on the driver for data paths.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def stage_done(spark: SparkSession, path: str) -> bool:
    """True when ``path/_SUCCESS`` exists (a completed stage write)."""
    fs, _, jvm = _fs_and_path(spark, path)
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")))


def delete_path(spark: SparkSession, path: str) -> None:
    """Recursive delete (cleanup of stale / partial stage output)."""
    fs, hpath, _ = _fs_and_path(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def stage(
    spark: SparkSession,
    name: str,
    workdir: str,
    build: Callable[[], DataFrame],
    resume: bool = True,
) -> DataFrame:
    """Materialize ``build()`` at ``workdir/name`` as a Parquet barrier.

    When ``resume`` and the stage already completed (``_SUCCESS``
    present), the build is skipped entirely and the barrier is re-read —
    the reference's step-resume semantics. A partial (no ``_SUCCESS``)
    output is deleted and rebuilt. The returned DataFrame reads from the
    barrier, so downstream lineage starts at a columnar scan. A fresh
    build is re-read with the schema it was just written with, so the
    re-read skips Parquet's footer inference (a one-task job); a resumed
    stage infers it.
    """
    path = f"{workdir.rstrip('/')}/{name}"
    if resume and stage_done(spark, path):
        return spark.read.parquet(path)
    delete_path(spark, path)
    built = build()
    built.write.mode("overwrite").parquet(path)
    return spark.read.schema(built.schema).parquet(path)


def write_csv(
    df: DataFrame, path: str, gzip: bool = True, header: bool = False
) -> None:
    """CSV sink with optional gzip — export parity with the reference's
    ``Count_*`` outputs (``ReflexivDataFrameCounter.java:222-233``)."""
    w = df.write.mode("overwrite").option("header", header)
    if gzip:
        w = w.option("compression", "gzip")
    w.csv(path)
