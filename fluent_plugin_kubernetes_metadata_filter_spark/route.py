"""Routing, ordering, skew handling, and per-sink aggregates
(SURVEY.md O4, O22; section 4 "what needs explicit handling").

The reference hands enriched events back to fluentd's router which
fan-outs by tag (README.md:104-110) and counts per-path stats
(kubernetes_metadata_stats.rb:26-45). Here:

- per-sink counts are a ``groupBy(route).count()`` — map-side partial
  aggregation makes this one small shuffle;
- hot conversations (one pod producing a large share of turns) would
  hotspot a plain hash repartition, so the physical placement key is
  (conv_id, salt) where salt = xxhash64(conv_id, turn_idx) % S. The salt
  affects ONLY placement: output content is unchanged and per-conversation
  order is re-established logically by the (conv_id, turn_idx) window
  sort, so per-turn text equality with the reference holds exactly.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig
from fluent_plugin_kubernetes_metadata_filter_spark.exprcache import JvmMemo

# canonical label for the null-route sink, shared by every public entry
# point (per_sink_counts, pipeline.run, run_resumable lineage/counts)
PASSTHROUGH = "__passthrough__"


def salted_repartition(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Physical-only skew defuse: repartition on (conv_id, salt)."""
    salt = F.pmod(F.xxhash64(F.col("conv_id"), F.col("turn_idx")), F.lit(cfg.salt_buckets))
    return df.withColumn("_salt", salt).repartition("conv_id", "_salt").drop("_salt")


def route_partition(df: DataFrame, cfg: PipelineConfig,
                    route_column: str = "namespace_name") -> DataFrame:
    """Physical layout for the fan-out write: shuffle on
    (route_key, conv_salt) and sort within partitions.

    - clustering by route key means each write task emits files for only
      a few sink directories (not sinks x tasks small files);
    - the conv-level salt splits a HOT sink (one namespace dominating the
      table — the 'hot pod' in the reference's world) across
      ``salt_buckets`` tasks instead of melting one writer;
    - salting by conv_id (not turn_idx) keeps a conversation's turns in
      ONE task, so the within-partition sort yields contiguous, ordered
      conversation runs in every output file.
    """
    salt, keys, order = _route_exprs(cfg.salt_buckets, route_column)
    df = df.withColumn("_salt", salt).repartition(*keys)
    return df.sortWithinPartitions(*order).drop("_salt")


@JvmMemo
def _route_exprs(salt_buckets: int, route_column: str
                 ) -> tuple[Column, list[Column], list[Column]]:
    """(salt, repartition keys, within-partition order) for route_partition."""
    salt = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(salt_buckets))
    key = F.coalesce(F.col(route_column), F.lit("__null__"))
    order = [F.col(c) for c in (route_column, "conv_id", "turn_idx")]
    return salt, [key, F.col("_salt")], order


def stable_order(df: DataFrame) -> DataFrame:
    """Logical per-conversation ordering: turn_seq = row_number over
    (conv_id ordered by turn_idx). Deterministic regardless of physical
    placement/salting (SURVEY.md section 7.4 item 4)."""
    return df.withColumn("turn_seq", _turn_seq())


@JvmMemo
def _turn_seq() -> Column:
    return F.row_number().over(Window.partitionBy("conv_id").orderBy("turn_idx"))


def per_sink_counts(df: DataFrame, route_column: str = "namespace_name") -> DataFrame:
    """O4/O22 routed-count aggregate; null route = passthrough sink.

    The string cast is a no-op on the enriched frame and keeps sink
    labels strings when counting a written output read back with hive
    partition discovery (which infers numeric types for numeric-looking
    route values)."""
    sink = F.col(route_column).cast("string")
    return (
        df.groupBy(F.coalesce(sink, F.lit(PASSTHROUGH)).alias("sink"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
