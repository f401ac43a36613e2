"""Bucketed co-located joins: zero-exchange plan + correct results."""

import contextlib
import io

import pyspark.sql.functions as F

from fluent_plugin_kubernetes_metadata_filter_spark import bucketing
from fluent_plugin_kubernetes_metadata_filter_spark.io import load_table

SF = "/root/testdata/sf0.001"


def exchange_free(df) -> bool:
    """True when the physical plan ``df.explain()`` prints contains no
    shuffle Exchange — the property bucketing buys."""
    plan = io.StringIO()
    with contextlib.redirect_stdout(plan):
        df.explain()
    return "Exchange hashpartitioning" not in plan.getvalue()


def test_bucketed_join_is_exchange_free(spark, tmp_path):

    facts = load_table(spark, SF, "transcripts").select("conv_id", "turn_idx", "role")
    dim = (
        facts.groupBy("conv_id").agg(F.count(F.lit(1)).alias("conv_len"))
    )
    bucketing.write_bucketed(facts, "facts_b", ["conv_id"], n_buckets=8)
    bucketing.write_bucketed(dim, "conv_dim_b", ["conv_id"], n_buckets=8)
    try:
        joined = bucketing.bucketed_join(spark, "facts_b", "conv_dim_b", ["conv_id"])
        # disable auto-broadcast so the join strategy is the bucketed SMJ
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = bucketing.bucketed_join(spark, "facts_b", "conv_dim_b", ["conv_id"])
            assert exchange_free(joined)
            # and the same join over the unbucketed frames DOES shuffle
            plain = facts.join(dim, "conv_id")
            assert not exchange_free(plain)
            # correctness: row count + a spot value
            assert joined.count() == facts.count()
            row = joined.where("conv_id = 'conv-000000'").select("conv_len").first()
            truth = facts.where("conv_id = 'conv-000000'").count()
            assert row.conv_len == truth
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    finally:
        spark.sql("DROP TABLE IF EXISTS facts_b")
        spark.sql("DROP TABLE IF EXISTS conv_dim_b")
