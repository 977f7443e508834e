"""Owning-scope tracking for persisted intermediates.

Several operators persist a DataFrame that is consumed more than once
inside the plan they return (kernel outputs, resolution tables, LSH
signatures). The persist is correct — without it the expensive upstream
recomputes per consumer — but the operator cannot unpersist before the
caller materializes the result. In a long-lived session running many
queries (the driver harness runs 50+ in one SparkSession) those caches
would accumulate until eviction.

Contract: operators call ``track(df)`` instead of ``df.persist()``; the
owner of the session calls ``release_caches(spark)`` once the results of
the previous query are materialized (the driver entry wraps every query
this way — each query releases its predecessor's caches on entry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_TRACKED: dict[int, list[DataFrame]] = {}


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` (memory and disk) and register it for a later
    ``release_caches``."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    key = id(df.sparkSession.sparkContext)
    _TRACKED.setdefault(key, []).append(df)
    return df


def release_caches(spark: SparkSession) -> int:
    """Unpersist every tracked DataFrame of this context. Safe to call any
    time after the consumer's results are materialized; returns the number
    released."""
    key = id(spark.sparkContext)
    dfs = _TRACKED.pop(key, [])
    n = 0
    for df in dfs:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n
