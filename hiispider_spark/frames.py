"""Materialization points that cut lineage.

A ``persist()``ed frame is an ``InMemoryRelation`` that embeds its whole
upstream plan, including every other cached relation nested inside it.
Spark rebuilds that plan's explain string and ``SparkPlanInfo`` on the
driver when each downstream query starts and again on every AQE
re-plan, so a chain of persisted frames grows the driver-side plan cost
with every link. ``cut`` replaces the persist with a lazy local
checkpoint: downstream plans start from a leaf ``LogicalRDD`` over the
checkpointed blocks, and the upstream plan is never printed again.

Blocks are filled by the first job that scans the frame, exactly as a
lazy ``persist()`` would, and stay until ``release`` drops them.
``unpersist()`` does nothing here: the frame's plan holds no cached
relation, only the RDD that owns the blocks.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def cut(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """Lazily checkpoint ``df`` at ``level`` (default: ``persist()``'s).

    Under AQE the call already runs ``df``'s shuffle and broadcast
    stages; only the final stage waits for the first job that scans the
    returned frame."""
    return df.localCheckpoint(eager=False, storageLevel=level)


def release(*dfs: DataFrame | None) -> None:
    """Free the blocks of frames returned by ``cut`` (``None`` skipped).

    Non-blocking: the RDD leaves the context's persistent set at once,
    its blocks are removed in the background."""
    for df in dfs:
        if df is None:
            continue
        plan = df._jdf.queryExecution().logical()
        if plan.nodeName() != "LogicalRDD":
            raise TypeError(
                f"release() takes frames returned by cut(); got a "
                f"{plan.nodeName()} plan"
            )
        plan.rdd().unpersist(False)
