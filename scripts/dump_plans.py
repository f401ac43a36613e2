"""Dump .explain("formatted") for named declared queries to files.

Usage: python scripts/dump_plans.py OUTDIR SUFFIX [query ...]
Writes OUTDIR/<query>_<SUFFIX>.txt for each named query (default: a
standard hot-path set). Plans only — nothing executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT = [
    "enrich_flat", "parse_containers", "route_counts", "per_conv_stats",
    "dedup_pipeline", "dedup_keepers", "minhash_pairs", "simhash_pairs",
    "full_curation", "dsir_weights", "semantic_dedup", "enrich_route_write",
    "cluster_sample", "ann_topk_ivf",
]


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main():
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or DEFAULT
    os.makedirs(outdir, exist_ok=True)

    from fluent_plugin_kubernetes_metadata_filter_spark.session import build_session
    import __spark_entry__ as entry

    spark = build_session(app="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    special = {}
    if "enrich_route_write" in names or "enrich_route_write_direct" in names:
        from fluent_plugin_kubernetes_metadata_filter_spark import pipeline
        from fluent_plugin_kubernetes_metadata_filter_spark.config import PipelineConfig

        special["enrich_route_write"] = lambda: pipeline.routed_output(spark, SF_DIR)
        special["enrich_route_write_direct"] = lambda: pipeline.routed_output(
            spark, SF_DIR, cfg=PipelineConfig(route_exchange=False)
        )

    for n in names:
        df = special[n]() if n in special else qs[n](spark, SF_DIR)
        path = os.path.join(outdir, f"{n}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted(df))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
