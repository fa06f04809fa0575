"""Partition facts the one-task assembly paths decide on, read without a
shuffle: whether a plan is one partition, and an exact row count.

Kept apart from ``layout`` and ``barriers`` so that changing these helpers
does not mark every query importing those modules as window-affected in
``tools/check_window.py``.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def in_one_partition(df: DataFrame) -> bool:
    """True when ``df`` is planned as ONE partition — a ``coalesce(1)``
    or ``repartition(1)`` with nothing but narrow or single-partition
    operators above it. Read from the planner's physical plan before any
    Exchange is inserted: no job, no execution."""
    try:
        plan = df._jdf.queryExecution().sparkPlan()
        return plan.outputPartitioning().numPartitions() == 1
    except Py4JError:
        return False


def count_rows(df: DataFrame) -> int:
    """``df.count()`` in ONE job: every partition is counted where it is
    computed and the driver sums the counts. ``df.count()`` plans a
    partial count, an Exchange to one partition and a final count — two
    jobs under AQE, and a shuffle write. Like any action, it materializes
    a lazy checkpoint in ``df``."""
    return int(df._jdf.queryExecution().toRdd().count())
