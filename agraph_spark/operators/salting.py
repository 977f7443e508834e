"""Hot-key salting utilities for high-cardinality aggregation states
(north_rule: "salted repartitioning and AQE skew-join hints").

Spark's partial (map-side) aggregation already absorbs most groupBy skew,
and AQE skew-join splitting (enabled in session.py) handles join-side skew
at runtime. Salting is the explicit tool for what those can't cover:
collect_list/collect_set on a hot key concentrates one partition. The
pattern:

  stage 1: group by (key, salt = pmod(xxhash64(row-identity), SALTS)) —
           a SALTS-way spread of the hot key's rows;
  stage 2: group by key — merges SALTS partial states per key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALTS = 16  # partial states per key in the two-phase aggregations


def salt_col(identity_col: str) -> Column:
    return F.pmod(F.xxhash64(F.col(identity_col)), F.lit(SALTS)).cast("int")


def salted_collect_set(
    df: DataFrame, key: str, value_col: str, identity_col: str
) -> DataFrame:
    """Two-phase collect_set: per-salt sets are bounded, the final merge
    combines at most SALTS arrays per key."""
    partial = (
        df.withColumn("_salt", salt_col(identity_col))
        .groupBy(key, "_salt")
        .agg(F.collect_set(value_col).alias("_vals"))
    )
    return partial.groupBy(key).agg(
        F.array_distinct(F.flatten(F.collect_list("_vals"))).alias("values")
    )
