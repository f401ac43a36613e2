"""Bucketed co-located joins — the scale path for dimension tables too
large to broadcast.

The reference's caches top out at 1000 entries (filter:45); real fleets
have ~10^4 pods, comfortably broadcastable. But at 10^12-turn scale the
interesting dimension is per-CONVERSATION metadata (one row per conv_id
— billions of rows). Broadcasting is impossible and a plain join
shuffles the full fact table every run. Bucketing both sides by the join
key at write time makes every later join a zero-exchange zip of
co-located buckets:

    write_bucketed(facts, "facts_b",  ["conv_id"], n_buckets=512)
    write_bucketed(dim,   "conv_dim_b", ["conv_id"], n_buckets=512)
    joined = bucketed_join(spark, "facts_b", "conv_dim_b", ["conv_id"])
    # .explain(): SortMergeJoin with NO Exchange on either side

This module wraps saveAsTable bucketing (the only Spark API that
persists bucket metadata); tests/test_bucketing.py asserts the
exchange-free plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, keys: list[str], n_buckets: int = 16,
                   sort: bool = True, mode: str = "overwrite") -> None:
    """Persist a table bucketed (and sorted) by the join keys.

    Bucket count is a layout contract: both sides of a co-located join
    must use the SAME n_buckets. At 100 TB pick buckets so one bucket of
    the big side is a few hundred MB (e.g. 2^12-2^14 buckets)."""
    w = df.write.mode(mode).bucketBy(n_buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.format("parquet").saveAsTable(table)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  keys: list[str], how: str = "inner") -> DataFrame:
    l = spark.table(left_table)
    r = spark.table(right_table)
    return l.join(r, on=keys, how=how)

