"""Routing / ordering / skew tests (SURVEY.md O4, O22, section 7.4 item 4)."""

import os
import tempfile

import pyspark.sql.functions as F

from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig
from fluent_plugin_kubernetes_metadata_filter_spark import pipeline
from fluent_plugin_kubernetes_metadata_filter_spark.io import load_table
from fluent_plugin_kubernetes_metadata_filter_spark.route import (
    per_sink_counts,
    salted_repartition,
    stable_order,
)

SF = "/root/testdata/sf0.001"


def test_salting_preserves_content(spark):
    df = load_table(spark, SF, "transcripts")
    salted = salted_repartition(df, PipelineConfig(salt_buckets=16))
    assert salted.exceptAll(df).count() == 0
    assert df.exceptAll(salted).count() == 0
    assert sorted(salted.columns) == sorted(df.columns)  # no _salt leak


def test_salting_splits_hot_sink_quantitatively(spark):
    """Skew evidence: the fixture's 'default' sink holds >50% of all
    rows; after the (route, conv-salt) layout no single (route, salt)
    group may exceed ~2x the ideal per-bucket share of that hot sink."""
    from fluent_plugin_kubernetes_metadata_filter_spark.route import route_partition

    cfg = PipelineConfig(salt_buckets=16)
    # sf0.01: conversations are <=320 turns, so conv-level salt chunks
    # are small relative to the hot sink (sf0.001 is too lumpy to bound)
    df = pipeline.enrich_transcripts(spark, "/root/testdata/sf0.01")
    hot_total = df.where(F.col("namespace_name") == "default").count()
    salt = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(cfg.salt_buckets))
    groups = (
        df.where(F.col("namespace_name") == "default")
        .groupBy(salt.alias("s")).count().collect()
    )
    assert len(groups) == cfg.salt_buckets  # every bucket in use
    assert max(r["count"] for r in groups) <= 2 * hot_total / cfg.salt_buckets
    # and the physical layout keeps content intact
    routed = route_partition(df, cfg, "namespace_name")
    assert routed.count() == df.count()


def test_stable_order_is_turn_idx_plus_one(spark):
    """turn_seq must be a deterministic function of (conv_id, turn_idx)
    regardless of physical placement: our generator emits contiguous
    turn_idx from 0, so turn_seq == turn_idx + 1 everywhere."""
    df = load_table(spark, SF, "transcripts")
    out = stable_order(salted_repartition(df, PipelineConfig(salt_buckets=32)))
    bad = out.where(F.col("turn_seq") != F.col("turn_idx") + 1)
    assert bad.count() == 0


def test_per_sink_counts_match_groupby(spark):
    df = pipeline.enrich_transcripts(spark, SF)
    counts = {r.sink: r.n_rows for r in per_sink_counts(df).collect()}
    direct = dict(
        df.groupBy("namespace_name").count().collect()
    )
    assert counts["__passthrough__"] == direct.pop(None)
    for k, v in direct.items():
        assert counts[k] == v
    assert sum(counts.values()) == df.count()


def test_fanout_write_roundtrip(spark):
    out = tempfile.mkdtemp(prefix="routed-")
    total = pipeline.run(spark, SF, out_dir=out)
    n_expected = sum(r.n_rows for r in total.collect())
    back = spark.read.parquet(out)
    assert back.count() == n_expected
    # per-turn text equality after the full route trip
    src = load_table(spark, SF, "transcripts").select("conv_id", "turn_idx", "text")
    joined = back.select("conv_id", "turn_idx", F.col("text").alias("routed_text")).join(
        src, ["conv_id", "turn_idx"]
    )
    assert joined.where(F.col("routed_text") != F.col("text")).count() == 0
    sinks = [d for d in os.listdir(out) if d.startswith("namespace_name=")]
    assert any(".orphaned" in d for d in sinks)
